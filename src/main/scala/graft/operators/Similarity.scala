package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBlocks

import graft.functions.VectorFunctions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the standard ANN playbook:
  *
  *   - [[bruteForceTopK]] — exact cosine top-k. The QUERY side is
  *     broadcast (queries are few), the corpus side streams through a
  *     BroadcastNestedLoopJoin, and the per-query top-k is a BOUNDED
  *     AGGREGATE ([[graft.functions.TopK.smallestK]]): the map side
  *     keeps a k-heap per query, so only ≤ |partitions| × k × |Q| heap
  *     entries ride the shuffle and nothing ever sorts more than k
  *     elements. At 100 TB the corpus never shuffles and no single
  *     task ever sees more than |partitions| × k candidate rows per
  *     query; this is the correctness baseline and the right plan
  *     when |Q| is small.
  *   - [[bucketedPairs]] — the scale path for all-pairs near-dup:
  *     multi-band sign LSH (nBands independent k-bit keys per vector),
  *     exploded and self EQUI-joined on (band, key) with no vector
  *     columns aboard, cosine-verifying only surviving candidates with
  *     the vectors re-attached by id. An IVF variant would replace the
  *     key fn with nearest-centroid; the plan shape (equi-join on a
  *     coarse key) is identical.
  */
object Similarity {

  /** Exact cosine top-k for each query vector. `queries` and `corpus`
    * both expose (`idCol`, `vecCol`); ids are assumed distinct across
    * the union. Ranking uses the ROUNDED cosine (6 dp) with the
    * neighbor id as tie-break so results are reproducible across
    * engines and runs.
    *
    * Plan shape (pinned by PlanSpec): scoring stays map-side against
    * the broadcast query frame; the ranking is a partial-merged
    * `collect_top_k` aggregate on `struct(-cos, n_id)` — NOT a
    * `row_number` window, which would shuffle the full |C| × |Q|
    * scored set onto |Q| reducers and sort |C| rows per query on one
    * task. Null cosines (mismatched/short vectors) are filtered before
    * ranking: a desc window ranks them last, a smallest-k heap on the
    * negated key would rank them first.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorFunctions.cosineFast(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos").isNotNull)
    // Smallest-k of (-cos, n_id asc) == cos desc with n_id tie-break.
    // Double negation is bit-exact, so `cos` round-trips unchanged.
    topKByCos(scored, k, carryCell = false)
  }

  /** Metadata-filtered exact top-k: search only the corpus rows that
    * pass `corpusPredicate` ("nearest neighbors among docs with
    * lang = 'en' / license = permissive / quality > 0.8" — the shape
    * every retrieval-augmented pipeline needs). This is PRE-filtering:
    * the predicate restricts the corpus BEFORE scoring, so every query
    * still gets its true k nearest within the allowed set. The naive
    * alternative — post-filtering a top-k result — silently returns
    * fewer than k rows and MISSES allowed neighbors that ranked below
    * the disallowed ones; with a selective predicate its recall decays
    * toward zero. At scale the predicate is a plain Catalyst filter:
    * it pushes into the corpus scan (or its id-join with the metadata
    * table), so the restricted corpus never materializes. For large
    * corpora compose the same way with the IVF path: filter, then
    * [[ivfTopKProbed]] — cells stay valid under any subset.
    */
  def filteredTopK(
      queries: DataFrame,
      corpus: DataFrame,
      corpusPredicate: Column,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    bruteForceTopK(queries, corpus.filter(corpusPredicate), idCol, vecCol, k)

  /** IVF-style cell assignment: nearest centroid by ROUNDED cosine
    * (6 dp) with lowest-centroid-id tie-break, so assignments
    * reproduce across engines and runs. `centroids` is a small frame
    * (`c_id`, `c_vec`) — a deterministic sample or k-means output —
    * broadcast against the corpus; the corpus itself never shuffles
    * for the assignment.
    */
  def ivfAssign(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      exactDouble: Boolean = false): DataFrame =
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(centroids.select(col("c_id"),
        // float32 is the scoring precision everywhere in this module;
        // the cast lets [[kmeansFit]]'s double centroids (and a
        // parquet round-trip of them) feed search directly. With
        // `exactDouble` the assignment runs the full-double path
        // instead ([[centroidSim]]) — required when TRAINED centroids
        // must assign bit-identically to an all-double replay (the
        // 6-dp decimal means carry ~9 significant digits, past
        // float32's ~7; seed centroids are float-exact either way).
        (if (exactDouble) col("c_vec").cast("array<double>")
         else col("c_vec").cast("array<float>")).as("c_vec"))))
      .select(col("id"), col("vec"), col("c_id"),
        centroidSim(exactDouble).as("sim"))
      .groupBy("id")
      .agg(
        max_by(col("c_id"), struct(col("sim"), (col("c_id") * -1).as("tb"))).as("cell"),
        first(col("vec")).as("vec"))

  /** Assignment similarity shared by [[ivfAssign]]/[[ivfAssignProbes]]:
    * rounded-6dp cosine of (`vec`, `c_vec`), float path by default,
    * all-double ([[VectorFunctions.cosineFastD]] — the [[kmeansFit]]
    * loop's own expression, bit-identical to the interpreted cosine)
    * when trained double centroids must replay exactly.
    */
  private def centroidSim(exactDouble: Boolean): Column =
    if (exactDouble)
      round(VectorFunctions.cosineFastD(
        col("vec").cast("array<double>"), col("c_vec")), 6)
    else round(VectorFunctions.cosineFast(col("vec"), col("c_vec")), 6)

  /** Top-`nprobe` cell assignments per vector (multi-probe IVF): the
    * query side probes its `nprobe` nearest centroids instead of only
    * the nearest one — the standard recall knob when a true neighbor
    * sits just across a Voronoi boundary. Same broadcast scoring as
    * [[ivfAssign]]; the top-`nprobe` pick is the bounded
    * [[graft.functions.TopK]] k-heap (map-side partials shrink the
    * shuffle from |df| × |centroids| scored rows to |df| × nprobe),
    * not a per-id window. Emits one row per (vector, probed cell).
    */
  def ivfAssignProbes(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      exactDouble: Boolean = false): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(centroids.select(col("c_id"),
        (if (exactDouble) col("c_vec").cast("array<double>")
         else col("c_vec").cast("array<float>")).as("c_vec"))))
      .select(col("id"), col("vec"), col("c_id"),
        centroidSim(exactDouble).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("id"))
      .agg(
        graft.functions.TopK.smallestK(
          struct((-col("sim")).as("ns"), col("c_id").as("c_id")), nprobe).as("top"),
        first(col("vec")).as("vec"))
      .select(col("id"), col("vec"), explode(col("top.c_id")).as("cell"))

  /** IVF ANN (nprobe = 1): assign corpus and queries to cells, search
    * each query only within its cell — the candidate join is an
    * EQUI-join on the cell id. The recall/cost trade is the centroid
    * count; [[ivfTopKProbed]] widens the query side to the top-p cells
    * before the same join.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // Note: the corpus assignment is consumed exactly once (the cell
    // equi-join), so there is nothing to cache here — a persist would
    // only leak a corpus-sized entry for the session's lifetime.
    val ca = ivfAssign(corpus, centroids, idCol, vecCol)
    val qa = ivfAssign(queries, centroids, idCol, vecCol)
    val scored = qa.select(col("id").as("q_id"), col("vec").as("q_vec"), col("cell"))
      .join(ca.select(col("id").as("n_id"), col("vec").as("n_vec"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("cell"),
        round(VectorFunctions.cosineFast(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos").isNotNull)
    // Candidates are cell-bounded, but the ranking is still the same
    // bounded k-heap aggregate as bruteForceTopK — a row_number window
    // here would sort each query's whole cell on one task.
    topKByCos(scored, k, carryCell = true)
  }

  /** Multi-probe IVF ANN: each query searches its `nprobe` nearest
    * cells. The corpus is still assigned once (every vector lives in
    * exactly one cell, so probing never duplicates a candidate); only
    * the few query rows fan out ×nprobe. The candidate join stays an
    * EQUI-join on the cell id — at corpus scale the probe count
    * multiplies only the (tiny) query side of the shuffle.
    */
  def ivfTopKProbed(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      exactDouble: Boolean = false): DataFrame = {
    val ca = ivfAssign(corpus, centroids, idCol, vecCol, exactDouble)
    val qa = ivfAssignProbes(queries, centroids, idCol, vecCol, nprobe, exactDouble)
    ivfSearch(qa.select(col("id").as("q_id"), col("vec").as("q_vec"), col("cell")),
      ca, k, DocGrouping.ByDoc)
  }

  /** [[ivfTopKProbed]]'s search and rank under any [[DocGrouping]]:
    * probed `(q_id, q_vec, cell)` rows equi-join the corpus assignment
    * `ca` on the cell, score by rounded-6dp cosine, and keep each
    * query's top-k.
    */
  private[graft] def ivfSearch(
      qa: DataFrame, ca: DataFrame, k: Int, g: DocGrouping): DataFrame = {
    val scored = qa
      .join(ca.select(col("id").as("n_id"), col("vec").as("n_vec"), col("cell")), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(g.keys(col("q_id"), col("n_id"),
        round(VectorFunctions.cosineFast(col("q_vec"), col("n_vec")), 6).as("cos")): _*)
      .filter(col("cos").isNotNull)
    topKByCos(scored, k, carryCell = false, g)
  }

  /** The stream's probe: each row's `nprobe` nearest centroids picked
    * IN-ROW against a broadcast 1-row centroid array, by the same
    * (rounded −cos, c_id) key as [[ivfAssignProbes]]' k-heap — a
    * stateless projection where the batch aggregate would be a second
    * stateful stage. Null cosines are filtered before the sort (a null
    * struct field would sort first). Emits `df`'s rows once per probed
    * centroid, with its id as `cell`; `vecCol` must already be in the
    * scoring precision (double when `exactDouble`).
    */
  private[graft] def probeInRow(
      df: DataFrame,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int,
      exactDouble: Boolean): DataFrame = {
    val vt = if (exactDouble) "array<double>" else "array<float>"
    val sim: (Column, Column) => Column =
      if (exactDouble) VectorFunctions.cosineFastD else VectorFunctions.cosineFast
    val cents = broadcast(centroids.agg(collect_list(
      struct(col("c_id").cast("long").as("c_id"), col("c_vec").cast(vt).as("c_vec")))
      .as("__cents")))
    df.crossJoin(cents)
      .withColumn("__probe", slice(array_sort(filter(
        transform(col("__cents"), c => struct(
          (-round(sim(col(vecCol), c.getField("c_vec")), 6)).as("ns"),
          c.getField("c_id").as("c_id"))),
        s => s.getField("ns").isNotNull)), 1, nprobe))
      .drop("__cents")
      .withColumn("cell", explode(col("__probe.c_id")))
      .drop("__probe")
  }

  /** Shared ranking tail for the top-k searches: k best (cos desc,
    * n_id asc) per q_id via the bounded-heap [[graft.functions.TopK]]
    * aggregate — map-side partial k-heaps, merge of heaps on the
    * reduce side, never a full per-query sort. Input must be
    * null-cosine-free (a heap on the negated key would rank nulls
    * FIRST where the window equivalent ranked them last).
    */
  private def topKByCos(
      scored: DataFrame,
      k: Int,
      carryCell: Boolean,
      g: DocGrouping = DocGrouping.ByDoc): DataFrame = {
    val key =
      if (carryCell) struct((-col("cos")).as("nc"), col("n_id").as("n_id"), col("cell").as("cell"))
      else struct((-col("cos")).as("nc"), col("n_id").as("n_id"))
    val cellCols =
      if (carryCell) Seq(col("t.cell").as("cell")) else Seq.empty
    scored
      .groupBy(g.keys(col("q_id")): _*)
      .agg(graft.functions.TopK.smallestK(key, k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(Seq(col("q_id"), col("t.n_id").as("n_id")) ++ cellCols :+
        (-col("t.nc")).as("cos"): _*)
  }

  /** Int8 scalar quantization of an embedding column — the 4× memory
    * cut that makes billion-vector corpora fit executor RAM (float32
    * → int8 per coordinate; at 1e9 × 768-dim that is 3 TB → 0.77 TB).
    * Vectors are L2-normalized FIRST (so quantized dot ≈ cosine),
    * then each coordinate maps to round-half-up(u_i / scale) with a
    * per-vector symmetric scale = max|u_i| / 127 — the largest
    * coordinate always lands on ±127, no codebook to train or ship.
    *
    * Determinism (oracle contract): the rounding is an explicit
    * `floor(x + 0.5)` — identical IEEE ops on every engine, where a
    * native round() would expose engine tie-rule differences. Zero
    * vectors are dropped (no direction to quantize; the exact paths
    * score them 0 anyway). Output: (`id`, `qvec` array<int>, `scale`
    * double); reconstruct coordinate i as `qvec[i] * scale`.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    df
      .select(col(idCol).as("id"), vd.as("v"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("v")))
      .filter(col("nrm") > 0.0)
      .withColumn("u", transform(col("v"), x => x / col("nrm")))
      .withColumn("scale",
        array_max(transform(col("u"), x => abs(x))) / lit(127.0))
      .select(col("id"),
        transform(col("u"),
          x => floor(x / col("scale") + lit(0.5)).cast("int")).as("qvec"),
        col("scale"))
  }

  /** Brute-force top-k over int8-quantized vectors: the approximate
    * score is the EXACT integer dot of the quantized coordinates
    * (bigint — products are ≤ 127², no float accumulation anywhere)
    * rescaled by the two per-vector scales, ≈ cosine of the unit
    * originals. Same plan shape as [[bruteForceTopK]]: the quantized
    * query frame broadcasts, the corpus never shuffles, and the cut
    * is the bounded [[graft.functions.TopK]] k-heap. Pair with
    * [[recallVsTruth]] to measure what the 4× compression costs in
    * recall — the number that decides whether the quantized index is
    * shippable.
    */
  def int8TopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = quantizeInt8(queries, idCol, vecCol)
      .select(col("id").as("q_id"), col("qvec").as("q_q"), col("scale").as("q_s"))
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col("id").as("n_id"), col("qvec").as("n_q"), col("scale").as("n_s"))
    val idot = aggregate(
      zip_with(col("q_q"), col("n_q"), (x, y) => (x * y).cast("bigint")),
      lit(0L), (acc, x) => acc + x)
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(idot.cast("double") * col("q_s") * col("n_s"), 6).as("cos"))
    topKByCos(scored, k, carryCell = false)
  }

  /** Two-stage retrieve-then-rerank over the int8 index — the
    * standard answer to quantization recall loss (FAISS's
    * `IndexRefineFlat` shape): stage 1 retrieves a SHORTLIST of
    * `shortlistFactor × k` candidates per query with the cheap
    * quantized score ([[int8TopK]] — 4× smaller index, exact integer
    * dot), stage 2 re-scores ONLY the shortlist with the
    * full-precision cosine and keeps the true top-k of it. A true
    * neighbor is lost only if quantization pushes it below rank
    * `factor × k` — far rarer than pushing it below rank k, which is
    * all a one-stage quantized search survives.
    *
    * Scale: the shortlist is query-set × factor·k cardinality —
    * NEVER corpus-sized — so it broadcasts back against the corpus
    * for the vector re-attach; the corpus pays id-equality lookups
    * and ships |shortlist| full-precision vectors, not |C|. Stage-2
    * scoring reuses [[bruteForceTopK]]'s exact contract (same
    * rounded-6dp cosine, same id tie-break), so within the shortlist
    * the rerank IS the exact ranking.
    */
  def int8RerankTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shortlistFactor: Int = 4): DataFrame = {
    val shortlist = int8TopK(queries, corpus, idCol, vecCol, k * shortlistFactor)
      .select(col("q_id"), col("n_id"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = c.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorFunctions.cosineFast(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos").isNotNull)
    topKByCos(scored, k, carryCell = false)
  }

  /** PQ-shortlist + exact rerank — the production recipe at PQ's code
    * rate, now a registered measured number instead of a docstring
    * recommendation (the [[int8RerankTopK]] shape over the
    * [[pqTopK]] shortlist): ADC retrieves `k × shortlistFactor`
    * candidates from 4-byte codes (64× memory), then ONLY those
    * candidates pay an exact cosine — per query that is
    * `k × shortlistFactor` exact dot products against a corpus the
    * codes already pruned, never the corpus itself. What rerank buys
    * back is bounded by shortlist recall: a true neighbor the ADC
    * shortlist missed stays missed (the measured gap between
    * `ann_pq_rerank` and 1.0), which is exactly the tuning signal a
    * deployment reads to size shortlistFactor.
    */
  def pqRerankTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      m: Int = 2,
      ks: Int = 16,
      lloydIters: Int = 0,
      shortlistFactor: Int = 4): DataFrame = {
    val shortlist = pqTopK(queries, corpus, idCol, vecCol,
        dim, k * shortlistFactor, m, ks, lloydIters)
      .select(col("q_id"), col("n_id"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = c.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorFunctions.cosineFast(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos").isNotNull)
    topKByCos(scored, k, carryCell = false)
  }

  /** IVF × int8 composed search — the production memory/compute
    * stack: multi-probe IVF prunes WHICH corpus rows are scored
    * (compute), int8 quantization shrinks WHAT is stored per row
    * (4× memory), and the two compose orthogonally because cell
    * assignment runs on the full-precision vectors at build time
    * (exactly [[ivfAssign]]'s contract) while only the quantized
    * codes ride the scoring join. Same bounded k-heap tail as every
    * search path. Measure the stacked approximation with
    * [[recallVsTruth]] — IVF's pruning loss and quantization's
    * scoring loss multiply, and the composed recall is the number a
    * deployment actually ships with.
    */
  def ivfInt8TopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val c = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col("id").as("n_id"), col("cell"))
      .join(quantizeInt8(corpus, idCol, vecCol)
        .select(col("id").as("n_id"), col("qvec").as("n_q"), col("scale").as("n_s")),
        Seq("n_id"))
    val q = ivfAssignProbes(queries, centroids, idCol, vecCol, nprobe)
      .select(col("id").as("q_id"), col("cell"))
      .join(quantizeInt8(queries, idCol, vecCol)
        .select(col("id").as("q_id"), col("qvec").as("q_q"), col("scale").as("q_s")),
        Seq("q_id"))
    val idot = aggregate(
      zip_with(col("q_q"), col("n_q"), (x, y) => (x * y).cast("bigint")),
      lit(0L), (acc, x) => acc + x)
    val scored = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(idot.cast("double") * col("q_s") * col("n_s"), 6).as("cos"))
    topKByCos(scored, k, carryCell = false)
  }

  /** Product-quantized (PQ) ADC search — the third classical ANN
    * memory structure beside IVF (which cells to score) and scalar
    * int8 (per-coordinate rounding): the vector splits into `m`
    * subspaces, each subvector is replaced by the id of its nearest
    * codebook entry, and a corpus row stores only `m` small codes —
    * at (m=2, ks=16) that is 1 byte per vector against 32 for the
    * dim-8 float originals, the compression regime billion-vector
    * indexes live in (FAISS `IndexPQ`). Search is asymmetric distance
    * computation (ADC): the query precomputes its exact distance to
    * every codeword (m × ks table, tiny, broadcast), and a corpus
    * row's approximate distance is m table lookups + a sum — no
    * vector arithmetic per corpus row at all.
    *
    * Geometry: vectors are L2-normalized first, so squared-L2 ADC
    * ranking is cosine ranking (‖a−b‖² = 2 − 2·cos on unit vectors);
    * recall is measured against the same exact-cosine truth as every
    * sibling. Codebooks here are the deterministic [[kmeansInit]]
    * seed pick per subspace (md5-ordered corpus rows — engine-
    * portable); production would Lloyd-refine them with [[kmeansFit]]
    * on the subvectors, which changes recall, not machinery.
    *
    * Determinism: every sub-distance is the dot-identity
    * `aa + bb − 2ab` over the SAME left-fold dot both engines agree
    * on bit-for-bit (the ann_* precedent), rounded to 6 dp before any
    * comparison; encode ties break to the lowest codeword id, ranking
    * ties to the lowest neighbor id.
    *
    * Scale: the corpus never shuffles — encoding is m broadcast
    * crossJoins + an id-keyed argmin each, search is a broadcast hash
    * join against the query tables; the only corpus-wide movement is
    * the k-heap cut (map-side partials, |Q| × k rows out).
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      m: Int = 2,
      ks: Int = 16,
      lloydIters: Int = 0): DataFrame = {
    val (enc, tables) =
      pqMachinery(queries, corpus, idCol, vecCol, dim, m, ks, lloydIters)
    val scored0 = tables.zipWithIndex.foldLeft(enc.withColumnRenamed("id", "n_id")) {
      case (acc, (t, j)) =>
        val cond = (col(s"code$j") === col(s"tc$j")) +:
          (if (j == 0) Seq.empty else Seq(col("tq0") === col(s"tq$j")))
        acc.join(broadcast(t), cond.reduce(_ && _))
    }
    pqRank(scored0, col("tq0"), m, k)
  }

  /** The shared PQ build: normalized corpus/query frames → seed (or
    * Lloyd-refined) per-subspace codebooks → corpus code table
    * (`id`, code0..code{m-1}) and per-subspace ADC tables
    * (`tq$j`, `tc$j`, `td$j`). Factored out of [[pqTopK]] so the
    * IVF-composed index ([[ivfPqTopK]]) reuses the identical encode
    * and table machinery — recall deltas between the two registrations
    * are then attributable to the coarse quantizer alone.
    */
  private def pqMachinery(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ks: Int,
      lloydIters: Int): (DataFrame, Seq[DataFrame]) = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m

    def normalize(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("v")))
      .filter(col("nrm") > 0.0)
      .select(col("id"), transform(col("v"), x => x / col("nrm")).as("u"))

    // dotFast = the codegen'd twin of the interpreted fold (bit-
    // identical by construction and by test); the encode pass runs
    // corpus x codebook of these, which made the interpreted HOF the
    // measured cost of the whole query.
    def l2sq(a: Column, b: Column): Column = round(
      VectorFunctions.dotFast(a, a) + VectorFunctions.dotFast(b, b)
        - lit(2.0) * VectorFunctions.dotFast(a, b), 6)

    val c = normalize(corpus)
    val q = normalize(queries)
    val seeds = kmeansInit(
      c.select(col("id").as(idCol), col("u").as(vecCol)), idCol, vecCol, ks)
    // lloydIters > 0: per-subspace Lloyd refinement of the seed
    // codebooks ([[kmeansFit]] with metric="l2" — the encode's own
    // distance), the step that turns arbitrary corpus rows into
    // within-cell variance minimizers (the FAISS `IndexPQ.train`
    // analog). Training runs on the SAME normalized subvectors encode
    // sees; surviving c_ids stay the seed ids, empty cells drop
    // (standard Lloyd), and the fit's eager per-iteration checkpoint
    // makes this branch partially eager at build time — the dedup-
    // pipeline pattern, priced inside the timed region at the bench.
    //
    // The m subspace fits are INDEPENDENT (each reads its own slice of
    // the shared normalized corpus), so they run CONCURRENTLY
    // ([[Par.seq]] — guide §2.6): run sequentially, each fit's eager
    // per-iteration cut left most cores idle through m × iters small
    // jobs (r17 Diag: ann_pq_lloyd warm = 73 stages, top stages far
    // under full-width). Overlapping them packs the same jobs into
    // ~1/m of the wall with identical per-fit plans and results.
    val codebooks = Par.seq((0 until m).map { j => () =>
      val seedsJ = seeds.select(col("c_id"),
        slice(col("c_vec"), j * subDim + 1, subDim).as("c_vec"))
      val cbJ =
        if (lloydIters > 0)
          kmeansFit(
            c.select(col("id"), slice(col("u"), j * subDim + 1, subDim).as("sv")),
            seedsJ, "id", "sv", lloydIters, metric = "l2")
        else seedsJ
      broadcast(cbJ.select(col("c_id"), col("c_vec").as("cw")))
    })

    // Encode: per subspace, nearest codeword by (rounded dist, c_id).
    val enc = (0 until m).map { j =>
      c.crossJoin(codebooks(j))
        .select(col("id"),
          l2sq(slice(col("u"), j * subDim + 1, subDim), col("cw")).as("d"), col("c_id"))
        .groupBy(col("id"))
        .agg(min_by(col("c_id"), struct(col("d"), col("c_id"))).as(s"code$j"))
    }.reduce(_.join(_, "id"))

    // ADC tables: exact query-to-codeword distances, one small frame
    // per subspace, broadcast into the scoring join.
    val tables = (0 until m).map { j =>
      q.crossJoin(codebooks(j))
        .select(col("id").as(s"tq$j"), col("c_id").as(s"tc$j"),
          l2sq(slice(col("u"), j * subDim + 1, subDim), col("cw")).as(s"td$j"))
    }
    (enc, tables)
  }

  /** Shared ADC ranking tail: sum the m table distances, drop the
    * self-pair, bounded k-heap per query.
    */
  private def pqRank(scored0: DataFrame, qId: Column, m: Int, k: Int): DataFrame = {
    val scored = scored0
      .filter(col("n_id") =!= qId)
      .select(qId.as("q_id"), col("n_id"),
        (0 until m).map(j => col(s"td$j")).reduce(_ + _).as("dist"))
    scored
      .groupBy(col("q_id"))
      .agg(graft.functions.TopK.smallestK(
        struct(col("dist").as("dist"), col("n_id").as("n_id")), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.n_id").as("n_id"), col("t.dist").as("dist"))
  }

  /** IVF × PQ composed search — FAISS `IndexIVFPQ` without residual
    * encoding, the index billion-vector deployments actually ship:
    * a coarse quantizer ([[ivfAssign]], full-precision cell
    * assignment at build time) decides WHICH corpus rows a query
    * scores (nprobe cells, not the corpus), and PQ codes decide WHAT
    * is stored per row (m bytes, `pqMachinery`'s 64× cut). The two
    * compose front-to-back: the candidate set is built FIRST — the
    * |Q|×nprobe probe table (broadcast, tiny) equi-joins the
    * cell-tagged code table ON THE CELL, so only ~nprobe/ncells of
    * the corpus enters the ADC lookups — then the per-subspace
    * tables fold onto the pruned candidates exactly as in [[pqTopK]].
    * At 100 TB that ordering is the whole point: a filter AFTER a
    * corpus-wide ADC join would pay the full scoring cost and prune
    * nothing.
    *
    * Same determinism contract as both parents (rounded-6dp
    * distances, lowest-id tie-breaks at assignment, encode, and
    * ranking); recall is measured by [[recallVsTruth]] against the
    * same exact truth — the compounding of IVF's pruning loss and
    * PQ's code loss is the number a deployment tunes (nprobe, m, ks,
    * shortlist) against.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      m: Int = 2,
      ks: Int = 16,
      nprobe: Int = 2,
      lloydIters: Int = 0): DataFrame = {
    val (enc, tables) =
      pqMachinery(queries, corpus, idCol, vecCol, dim, m, ks, lloydIters)
    val assign = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col("id"), col("cell"))
    val probes = ivfAssignProbes(queries, centroids, idCol, vecCol, nprobe)
      .select(col("id").as("pq_id"), col("cell"))
    // Candidate set first: probes × cell-members — the cell equi-join
    // IS the index lookup; everything downstream sees only candidates.
    val candidates = enc.join(assign, Seq("id"))
      .join(broadcast(probes), Seq("cell"))
      .withColumnRenamed("id", "n_id")
    val scored0 = tables.zipWithIndex.foldLeft(candidates) {
      case (acc, (t, j)) =>
        acc.join(broadcast(t),
          col(s"code$j") === col(s"tc$j") && col("pq_id") === col(s"tq$j"))
    }
    pqRank(scored0, col("pq_id"), m, k)
  }

  /** RESIDUAL-encoded IVF × PQ — the actual FAISS `IndexIVFPQ`
    * contract, one level deeper than [[ivfPqTopK]]'s direct encoding:
    * PQ codes describe `r = u − ĉ(cell)` (the vector MINUS its
    * normalized coarse centroid) instead of the vector itself. The
    * point of residuals is that the coarse quantizer already explains
    * the cluster-mean structure, so the (shared, per-subspace)
    * codebooks spend their entire budget on LOCAL detail — on
    * clustered data that is most of what direct codes waste. The cost
    * is at SEARCH: a query's distance table depends on which cell it
    * probes (`qr = qu − ĉ(cell)`), so ADC tables are per
    * (query, probed cell) — |Q| × nprobe × m × ks rows, still tiny,
    * still broadcast; FAISS pays exactly this ("precomputed tables"
    * are its optimization of the same term).
    *
    * Scale shape mirrors [[ivfPqTopK]]: candidates are built FIRST by
    * the cell equi-join, the per-(query, cell) tables fold onto
    * candidates keyed by (query, cell, code), and only the k-heap
    * leaves the corpus. Same determinism contract (normalization and
    * subtraction are identical IEEE expressions in both engines;
    * every distance rounds to 6 dp; lowest-id tie-breaks at assign,
    * encode, rank).
    */
  def ivfPqResidualTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      m: Int = 2,
      ks: Int = 16,
      nprobe: Int = 2,
      lloydIters: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    def normalize(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("v")))
      .filter(col("nrm") > 0.0)
      .select(col("id"), transform(col("v"), x => x / col("nrm")).as("u"))
    def l2sq(a: Column, b: Column): Column = round(
      VectorFunctions.dotFast(a, a) + VectorFunctions.dotFast(b, b)
        - lit(2.0) * VectorFunctions.dotFast(a, b), 6)

    val cu = normalize(corpus)
    val qu = normalize(queries)
    val cen = centroids
      .select(col("c_id").as("cell"), col("c_vec").cast("array<double>").as("cv"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("cv")))
      .filter(col("nrm") > 0.0)
      .select(col("cell"), transform(col("cv"), x => x / col("nrm")).as("cu"))
    val assign = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col("id"), col("cell"))
    // Corpus residuals: u − ĉ(assigned cell), element-wise exact.
    val res = cu.join(assign, Seq("id"))
      .join(broadcast(cen), Seq("cell"))
      .select(col("id"), col("cell"),
        zip_with(col("u"), col("cu"), (a, b) => a - b).as("r"))
    // Shared per-subspace codebooks seeded from residual rows — the
    // same deterministic md5-ordered pick as [[kmeansInit]] —
    // optionally Lloyd-refined on the residual subvectors
    // ([[kmeansFit]] metric="l2", the FAISS `IndexIVFPQ.train` step:
    // codewords move from arbitrary residual rows to within-cell
    // residual means).
    val seeds = kmeansInit(
      res.select(col("id").as(idCol), col("r").as(vecCol)), idCol, vecCol, ks)
    // Independent per-subspace fits run concurrently — same §2.6
    // overlap as [[pqMachinery]]'s codebooks (identical plans, packed
    // submission).
    val codebooks = Par.seq((0 until m).map { j => () =>
      val seedsJ = seeds.select(col("c_id"),
        slice(col("c_vec"), j * subDim + 1, subDim).as("c_vec"))
      val cbJ =
        if (lloydIters > 0)
          kmeansFit(
            res.select(col("id"), slice(col("r"), j * subDim + 1, subDim).as("sv")),
            seedsJ, "id", "sv", lloydIters, metric = "l2")
        else seedsJ
      broadcast(cbJ.select(col("c_id"), col("c_vec").as("cw")))
    })
    val enc = (0 until m).map { j =>
      res.crossJoin(codebooks(j))
        .select(col("id"), col("cell"),
          l2sq(slice(col("r"), j * subDim + 1, subDim), col("cw")).as("d"), col("c_id"))
        .groupBy(col("id"), col("cell"))
        .agg(min_by(col("c_id"), struct(col("d"), col("c_id"))).as(s"code$j"))
    }.reduce(_.join(_, Seq("id", "cell")))
    val probes = ivfAssignProbes(queries, centroids, idCol, vecCol, nprobe)
      .select(col("id").as("pq_id"), col("cell"))
    // Query residual PER PROBED CELL, then per-(query, cell) tables.
    val qres = qu.select(col("id").as("pq_id"), col("u"))
      .join(broadcast(probes), Seq("pq_id"))
      .join(broadcast(cen), Seq("cell"))
      .select(col("pq_id"), col("cell"),
        zip_with(col("u"), col("cu"), (a, b) => a - b).as("qr"))
    val tables = (0 until m).map { j =>
      qres.crossJoin(codebooks(j))
        .select(col("pq_id").as(s"tq$j"), col("cell").as(s"tcell$j"),
          col("c_id").as(s"tc$j"),
          l2sq(slice(col("qr"), j * subDim + 1, subDim), col("cw")).as(s"td$j"))
    }
    val candidates = enc.join(broadcast(probes), Seq("cell"))
      .withColumnRenamed("id", "n_id")
    val scored0 = tables.zipWithIndex.foldLeft(candidates) {
      case (acc, (t, j)) =>
        acc.join(broadcast(t),
          col(s"code$j") === col(s"tc$j") && col("pq_id") === col(s"tq$j") &&
            col("cell") === col(s"tcell$j"))
    }
    pqRank(scored0, col("pq_id"), m, k)
  }

  /** IVF × PQ × exact rerank — the full production retrieval stack at
    * this code rate: coarse cells prune, codes shortlist
    * k × shortlistFactor, and only the shortlist pays exact cosines.
    */
  def ivfPqRerankTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      m: Int = 2,
      ks: Int = 16,
      nprobe: Int = 2,
      lloydIters: Int = 0,
      shortlistFactor: Int = 4): DataFrame = {
    val shortlist = ivfPqTopK(queries, corpus, centroids, idCol, vecCol,
        dim, k * shortlistFactor, m, ks, nprobe, lloydIters)
      .select(col("q_id"), col("n_id"))
    exactRerank(shortlist, queries, corpus, idCol, vecCol, k)
  }

  /** The exact-cosine tail every rerank stack shares: the shortlist
    * (|Q| × k × shortlistFactor rows — broadcastable by construction,
    * it is a TakeOrdered output) pulls only its members' vectors from
    * the corpus, pays full-precision cosines on those, and the k-heap
    * cuts. The corpus is touched once, by a broadcast semi-join-shaped
    * inner join — never scanned per query.
    */
  private def exactRerank(
      shortlist: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = c.join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorFunctions.cosineFast(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos").isNotNull)
    topKByCos(scored, k, carryCell = false)
  }

  /** RESIDUAL IVF × PQ × exact rerank — the last cell of the 2×2
    * index matrix (encoding ∈ {direct, residual} × tail ∈ {ADC,
    * exact rerank}), and the configuration FAISS deployments ship
    * when the coarse quantizer is trained: residual codes buy the
    * tighter shortlist, the exact tail then erases the code
    * quantization error inside it, so recall is bounded only by
    * shortlist membership. Composition is [[ivfPqResidualTopK]] at
    * k × shortlistFactor feeding the same exact-cosine tail as
    * [[ivfPqRerankTopK]] — scale shape unchanged (candidates pruned
    * by cell BEFORE any scoring, tables per (query, probed cell),
    * shortlist broadcast onto the corpus once).
    */
  def ivfPqResidualRerankTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      m: Int = 2,
      ks: Int = 16,
      nprobe: Int = 2,
      lloydIters: Int = 0,
      shortlistFactor: Int = 4): DataFrame = {
    val shortlist = ivfPqResidualTopK(queries, corpus, centroids, idCol, vecCol,
        dim, k * shortlistFactor, m, ks, nprobe, lloydIters)
      .select(col("q_id"), col("n_id"))
    exactRerank(shortlist, queries, corpus, idCol, vecCol, k)
  }

  /** ANN quality measurement: recall of an approximate top-k result
    * against the exact ground truth — THE number an IVF/LSH user tunes
    * nprobe / centroid count / bands by. Both inputs expose
    * (`q_id`, `n_id`); ground truth is assumed to hold exactly k rows
    * per query (the [[bruteForceTopK]] contract).
    *
    * Output: one row per query (n_hits = |approx ∩ truth|, recall =
    * n_hits / k) plus one corpus-wide summary row with `q_id = -1`
    * (mean recall; exact because every query contributes the same k).
    * The -1 sentinel instead of a rollup NULL keeps the key column
    * non-nullable for downstream equality joins.
    *
    * Scale: one shuffle at |Q| × k cardinality (the grouped union),
    * then a rollup at |Q| — both bounded by the query set, never the
    * corpus.
    */
  def recallVsTruth(groundTruth: DataFrame, approx: DataFrame): DataFrame = {
    // Both inputs usually derive from the SAME corpus lineage (exact
    // and approximate top-k over one embeddings table). A direct join
    // would be a self-join that Spark rejects as ambiguous after
    // relation dedup (even with re-aliased columns), so the
    // intersection is computed join-free: tag each side, UNION, group
    // on (q_id, n_id) — a pair is a hit when both sides contributed —
    // and keep only truth rows (recall's denominator; extra approx
    // rows are not misses).
    val t = groundTruth.select(col("q_id"), col("n_id"),
      lit(1L).as("__t"), lit(0L).as("__a"))
    val a = approx.select(col("q_id"), col("n_id"),
      lit(0L).as("__t"), lit(1L).as("__a"))
    // groupBy/rollup take Column args, NOT string names: the string
    // overloads resolve via Dataset.col, which attaches __dataset_id
    // metadata — and over this shared-lineage tree that metadata makes
    // DetectAmbiguousSelfJoin reject the (legitimate) plan.
    t.unionByName(a)
      .groupBy(col("q_id"), col("n_id"))
      .agg(max(col("__t")).as("__in_t"), max(col("__a")).as("__in_a"))
      .filter(col("__in_t") === 1L)
      .select(col("q_id"), (col("__in_t") * col("__in_a")).as("__hit"))
      .rollup(col("q_id"))
      .agg(
        sum(col("__hit")).cast("bigint").as("n_hits"),
        round(sum(col("__hit")) / count(lit(1)), 4).as("recall"))
      .select(coalesce(col("q_id"), lit(-1L)).as("q_id"), col("n_hits"), col("recall"))
  }

  /** Lloyd's k-means over an embedding column — trains the centroids
    * the IVF paths consume, making the ANN story self-contained:
    * deterministic seeds → [[kmeansFit]] → [[ivfTopK]]/[[ivfTopKProbed]]
    * with trained cells. Returns one row per surviving centroid:
    * (`c_id`, `c_vec` array<double>, `n_members`). Seeds that attract
    * no members drop out (standard Lloyd), so `c_id`s are stable but
    * the set can shrink.
    *
    * Determinism (the engine-portability contract the oracle holds us
    * to): assignment is the rounded-6dp cosine with lowest-centroid-id
    * tie-break (same rule as [[ivfAssign]]); the new centroid mean is
    * computed EXACTLY — each coordinate rounds to 6 dp, sums as
    * decimal(18,6) (no float accumulation-order drift), and the mean
    * re-rounds to 6 dp — so two engines (or two partitionings of the
    * same cluster) produce bit-identical centroids. The assignment
    * cosine is [[graft.functions.VectorFunctions.cosineFastD]] — the codegen'd dot
    * composed into the cosine identity, bit-identical to the
    * interpreted [[graft.functions.VectorFunctions.cosine]] (PropertySpec-pinned) so
    * the oracle is untouched, but keeping Lloyd's corpus × k inner
    * loop inside whole-stage codegen (round-10 verdict ask #7). NOT
    * the float [[graft.functions.VectorFunctions.cosineFast]]: iteration ≥ 2
    * centroids are array<double>, and the float Expression would
    * silently insert a lossy double→float cast on one side only.
    *
    * Scale: per iteration, one broadcast crossJoin (corpus × k, narrow)
    * + a corpus-cardinality argmax shuffle + a mean aggregate whose
    * map-side partials collapse to ≤ k × dim rows per task before the
    * shuffle. The projected corpus is persisted for the loop (released
    * before return) and each iteration's centroid frame is
    * `localCheckpoint`ed — k × dim rows, cheap — so iteration i never
    * re-executes iterations 1..i-1 and the plan tree stays
    * iteration-count-independent (round-4 review: the unchecked loop
    * was O(iters²) corpus passes). Standard practice at the 100 TB
    * tier — and what this API expects — is to TRAIN on a deterministic
    * hash-sample ([[Sampling]]) and run the one full-corpus assignment
    * pass with [[ivfAssign]] afterwards; MLlib's
    * driver-resident-centroid trick would remove the argmax shuffle at
    * the cost of a collect per iteration, which this library's
    * no-collect posture declines.
    *
    * Contract: `init` must expose exactly (`c_id`, `c_vec`) — it is a
    * centroid frame (e.g. a [[Sampling]] pick renamed, or a previous
    * fit's output), not a corpus, so it does not take idCol/vecCol.
    * Null vectors are dropped before assignment; ragged vector lengths
    * FAIL FAST per cell (`raise_error` when a cell's per-coordinate
    * member counts disagree — a silent ragged corpus would otherwise
    * divide tail coordinates by fewer members).
    */
  def kmeansFit(
      corpus: DataFrame,
      init: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int,
      metric: String = "cosine"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(metric == "cosine" || metric == "l2",
      s"kmeansFit: metric must be 'cosine' or 'l2', got '$metric'")
    require(Seq("c_id", "c_vec").forall(init.columns.contains),
      s"kmeansFit: init must expose (c_id, c_vec); got (${init.columns.mkString(", ")})")
    val c = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = init.select(col("c_id").cast("long").as("c_id"),
      col("c_vec").cast("array<double>").as("c_vec"))
    var result: DataFrame = null
    // finally: the ragged-vector raise_error below makes mid-loop
    // failure a DESIGNED path — without the guard every failed fit
    // leaks the corpus-sized cache entry for the session lifetime.
    try {
      for (_ <- 1 to iters) {
        // k × dim rows: the eager lineage cut (one job per iteration —
        // Lloyd is inherently one corpus pass per iteration) means the
        // next iteration's broadcast does not re-execute this one, and
        // the returned frame reads tiny checkpoint blocks instead of
        // replaying the last assignment. Reliable on clusters with a
        // checkpoint dir, local otherwise — see CheckpointBlocks.cut.
        val next = CheckpointBlocks.cut(lloydIteration(c, cents, metric))
        // The superseded iteration's checkpoint blocks free directly
        // (Dataset.unpersist can't touch them); tiny, but a
        // many-iteration fit shouldn't wait on driver GC.
        if (result != null) CheckpointBlocks.release(result)
        result = next
        cents = result.select(col("c_id"), col("c_vec"))
      }
    } finally c.unpersist(false)
    result
  }

  /** Deterministic k-seed selection for [[kmeansFit]]: the k corpus
    * vectors with the smallest md5 hash of their id — a uniform
    * pseudo-random pick that reproduces across runs, engines, and
    * partitionings (the library-wide [[graft.functions.Hashing]]
    * idiom), emitted under the exact (`c_id`, `c_vec`) contract
    * `kmeansFit`'s init requires. The pick is an `orderBy().limit(k)`
    * — Spark plans TakeOrdered (per-partition bounded heaps merged on
    * the driver), never a full corpus sort. For sharper seeds on
    * clustered data, k-means++ style spreading can be layered on; the
    * hash pick is the scale-safe, zero-iteration default.
    */
  def kmeansInit(corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("c_id"), col(vecCol).cast("array<double>").as("c_vec"),
        graft.functions.Hashing.md5Bits60(col(idCol).cast("string")).as("__h"))
      .orderBy(col("__h"), col("c_id"))
      .limit(k)
      .drop("__h")
  }

  /** One Lloyd step as a lazy plan: broadcast-argmax assignment +
    * exact decimal per-coordinate means + the ragged-length guard.
    * Package-private so plan-shape tests can pin the iteration's
    * physical plan BEFORE [[kmeansFit]]'s per-iteration checkpoint
    * hides it behind an RDD scan.
    *
    * `metric`: "cosine" (the IVF training default — interpreted
    * double-path [[VectorFunctions.cosine]], see [[kmeansFit]]'s
    * determinism note) or "l2" — NEGATED rounded squared-L2 via the
    * dot identity aa + bb − 2ab over [[VectorFunctions.dotFast]]
    * (the [[pqTopK]] encode's own distance, so PQ codebook training
    * assigns under exactly the metric its encode ranks by; max of
    * −d ≡ min of d, same lowest-centroid-id tie-break). The mean
    * step is metric-independent — L2's centroid-of-members IS the
    * within-cell variance minimizer, so plain Lloyd applies.
    */
  private[graft] def lloydIteration(
      c: DataFrame, cents: DataFrame, metric: String = "cosine"): DataFrame = {
    val affinity = metric match {
      case "l2" =>
        -round(
          VectorFunctions.dotFast(col("vec"), col("vec"))
            + VectorFunctions.dotFast(col("c_vec"), col("c_vec"))
            - lit(2.0) * VectorFunctions.dotFast(col("vec"), col("c_vec")), 6)
      // cosineFastD, not the interpreted cosine: bit-identical by
      // construction (dotFast ≡ dot pinned; same double ops around
      // it), and it keeps the corpus × k assignment loop — Lloyd's
      // entire per-iteration cost — inside whole-stage codegen. NOT
      // cosineFast: iteration ≥ 2 centroids are array<double>, and
      // the float Expression would silently insert a lossy
      // double→float cast on one side only (the original reason this
      // loop stayed interpreted through round 10).
      case _ => round(VectorFunctions.cosineFastD(col("vec"), col("c_vec")), 6)
    }
    val assigned = c
      .crossJoin(broadcast(cents))
      .select(col("id"), col("vec"), col("c_id"), affinity.as("sim"))
      .groupBy("id")
      .agg(
        max_by(col("c_id"), struct(col("sim"), (col("c_id") * -1).as("tb"))).as("cell"),
        first(col("vec")).as("vec"))
    // Elementwise mean, exactly: round(6dp) -> decimal sum -> /count
    // -> round(6dp). count(*) per (cell, pos) IS the member count
    // (every member contributes one value to every coordinate).
    val means = assigned
      .select(col("cell"), posexplode(col("vec")))
      .groupBy(col("cell"), (col("pos") + 1).as("pos"))
      .agg(
        round(sum(round(col("col"), 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("m"),
        count(lit(1)).as("n_members"))
    means
      .groupBy(col("cell").as("c_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          t => t.getField("m")).as("c_vec"),
        max(col("n_members")).as("n_max"),
        min(col("n_members")).as("n_min"))
      .select(col("c_id"), col("c_vec"),
        // Ragged guard: if any coordinate of a cell saw fewer members
        // than another, some member vector was shorter than the rest —
        // the mean would be silently wrong. Fail loudly instead.
        when(col("n_min") =!= col("n_max"),
          raise_error(concat(
            lit("kmeansFit: ragged vector lengths in cell "),
            col("c_id").cast("string"),
            lit(" (per-coordinate member counts "),
            col("n_min").cast("string"), lit(".."),
            col("n_max").cast("string"), lit(")"))))
          .otherwise(col("n_max")).as("n_members"))
  }

  /** Embedding-cosine near-dup pairs via multi-band sign LSH
    * ([[graft.functions.VectorFunctions.bandSignKeys]]): same (band, key) → candidate,
    * verified at `minCosine` on the rounded cosine. Returns
    * (id_a, id_b, cos) with id_a < id_b.
    *
    * 100 TB shape: the candidate join carries ONLY (id, band, key) —
    * vectors do NOT ride the candidate shuffle (pinned by PlanSpec);
    * they are re-attached by id for the surviving pairs alone. Bucket
    * population is bounded by nBands × 2^bitsPerBand keys (the round-2
    * single-8-bit-bucket version capped at 256 buckets, which goes
    * quadratic within buckets at a billion vectors). Vectors shorter
    * than `dim` (and nulls) are dropped up front: they cannot key every
    * band and would otherwise pile into a degenerate shared bucket —
    * same trap as empty MinHash signatures ([[Dedup]]). The drop is
    * NOT silent: the banding pass observes `n_keyed` / `n_dropped_short`
    * under the metric name `graft.bucketedPairs` (read them with a
    * `QueryExecutionListener` — free, no extra pass).
    *
    * Lifecycle: EAGER. The band-key frame is persisted for the
    * candidate self-join, the (pair-cardinality) result is
    * materialized into lineage-truncated block storage, and the key
    * cache is released before returning — nothing outlives the call
    * except the returned frame, whose blocks free themselves on GC
    * (see `Dedup.eagerRelease` for why the lineage cut, not a plain
    * persist, is what makes releasing the key cache safe).
    */
  def bucketedPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64,
      nBands: Int = 6,
      bitsPerBand: Int = 12,
      minCosine: Double = 0.2,
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    val (keys, pairs) =
      bucketedPairsLazy(corpus, idCol, vecCol, dim, nBands, bitsPerBand, minCosine, maxBucket)
    Dedup.eagerRelease(Seq(keys), pairs)
  }

  /** Lazy plan builder behind [[bucketedPairs]], exposed so plan-shape
    * tests can pin the candidate join BEFORE the eager wrapper hides it
    * inside an InMemoryRelation. Returns (bandKeys, pairs); `bandKeys`
    * is already persist-marked (the self-join reads it twice) and the
    * caller owns its unpersist.
    */
  /** Incremental embedding near-dup — the vector-space member of the
    * D8/D9/D12 ingest family: batch vectors that sign-LSH-collide
    * with (and cosine-verify against) the STANDING corpus, as
    * `(id_b = batch id, id_c = corpus id, cos)` pairs. Candidates
    * come from the same band keys as [[bucketedPairs]], but the join
    * is batch-banded × corpus-banded — the corpus NEVER self-joins,
    * candidate cardinality scales with the batch, and only the
    * corpus side is hot-bucket-capped (a batch is ingest-sized by
    * definition; the cap exists to bound |batch| × hot-bucket
    * blowups from the corpus's dense directions). Ids are assumed
    * distinct across the two frames (the ingest contract).
    */
  /** The static half of the incremental embedding near-dup check —
    * the corpus "index" both the batch ([[nearDupsAgainstCorpusEmbed]])
    * and stream ([[graft.streaming.StreamingOps.embedNearDupStream]])
    * paths probe: (capped banded sign-LSH keys, projected vectors),
    * columns (`id_c`, `band`, `key`) / (`id_c`, `id_c_vec`). Built once
    * per (re)index; at serving scale this is the frame a deployment
    * persists or bucketizes by (band, key).
    */
  private[graft] def embedBandIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nBands: Int,
      bitsPerBand: Int,
      maxBucket: Int): (DataFrame, DataFrame, DataFrame) = {
    val c = corpus
      .select(col(idCol).as("id_c"), col(vecCol).as("id_c_vec"))
      .filter(col("id_c_vec").isNotNull && size(col("id_c_vec")) >= dim)
    val keys = c.select(col("id_c"),
        explode(VectorFunctions.bandSignKeys(col("id_c_vec"), dim, nBands, bitsPerBand)).as("bk"))
      .select(col("id_c"), col("bk.band").as("band"), col("bk.key").as("key"))
    // Hot corpus buckets are rank-chunk SPLIT, not dropped (the
    // round-15 posture change — see [[Dedup.splitBucketsWithRouting]]);
    // probes route to one chunk per band via [[Dedup.routeToChunks]]
    // on the hot frame returned here.
    val (split, hot) = Dedup.splitBucketsWithRouting(keys, maxBucket, idCol = "id_c")
    (split, hot, c)
  }

  /** The probe half of the incremental embedding near-dup check, shared
    * by the batch ([[nearDupsAgainstCorpusEmbed]]) and stream
    * ([[graft.streaming.StreamingOps.embedNearDupStream]]) paths: the
    * rows of `df` whose vector has at least `dim` entries, projected to
    * `id_b`, `id_b_vec` and the `carry` columns, and those rows
    * exploded to one per sign-LSH band key (`band`, `key`). The key
    * rows keep every projected column but the vector, which rides
    * along only with `vecOnKeys` (a stream cannot re-attach vectors
    * by id the way the batch path does).
    */
  private[graft] def embedProbe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nBands: Int,
      bitsPerBand: Int,
      carry: Seq[Column] = Nil,
      vecOnKeys: Boolean = false): (DataFrame, DataFrame) = {
    val probe = df
      .select(Seq(col(idCol).as("id_b"), col(vecCol).as("id_b_vec")) ++ carry: _*)
      .filter(col("id_b_vec").isNotNull && size(col("id_b_vec")) >= dim)
    val kept = probe.columns.toSeq.filter(c => vecOnKeys || c != "id_b_vec").map(col)
    val keys = probe
      .select(kept :+
        explode(VectorFunctions.bandSignKeys(col("id_b_vec"), dim, nBands, bitsPerBand)).as("bk"): _*)
      .select(kept ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
    (probe, keys)
  }

  def nearDupsAgainstCorpusEmbed(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nBands: Int,
      bitsPerBand: Int,
      minCosine: Double,
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    val (b, bKeys) = embedProbe(batch, idCol, vecCol, dim, nBands, bitsPerBand)
    val (ck, hot, c) = embedBandIndex(corpus, idCol, vecCol, dim, nBands, bitsPerBand, maxBucket)
    val cand = Dedup.routeToChunks(bKeys, hot, "id_b")
      .join(ck, Seq("band", "key", "__sub"))
      .select(col("id_b"), col("id_c"))
      .distinct()
    cand
      .join(b, Seq("id_b"))
      .join(c, Seq("id_c"))
      .select(col("id_b"), col("id_c"),
        round(VectorFunctions.cosineFast(col("id_b_vec"), col("id_c_vec")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  private[graft] def bucketedPairsLazy(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nBands: Int,
      bitsPerBand: Int,
      minCosine: Double,
      maxBucket: Int = Dedup.LshMaxBucket): (DataFrame, DataFrame) = {
    val e = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // Persisted: the candidate self-join reads this frame twice (same
    // pattern as Dedup's `banded`). The corpus projection `e` is
    // deliberately NOT cached — the re-attach joins re-scan the source
    // with (id, vec) pruning, which at corpus scale beats pinning the
    // full vector column in storage memory.
    val keys = e
      .observe("graft.bucketedPairs",
        sum(when(col("vec").isNull || size(col("vec")) < dim, 1L).otherwise(0L))
          .as("n_dropped_short"),
        sum(when(col("vec").isNull || size(col("vec")) < dim, 0L).otherwise(1L))
          .as("n_keyed"))
      .filter(col("vec").isNotNull && size(col("vec")) >= dim)
      .select(
        col("id"),
        explode(VectorFunctions.bandSignKeys(col("vec"), dim, nBands, bitsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hot-bucket SPLIT ([[Dedup.splitBuckets]]): for sign-LSH a hot
    // key is a dense direction cluster (or the all-zeros region of
    // sparse vectors) — same quadratic self-join exposure as text LSH.
    val capped = Dedup.splitBuckets(keys, maxBucket)
    // A pair colliding in several bands must verify once, not once per
    // band: distinct at candidate cardinality, before any vector rides.
    val cand = capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.__sub") === col("b.__sub") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val pairs = cand
      .join(e.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosineFast(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
    (keys, pairs)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR'09) —
    * fuse the per-query TOP-K lists of several retrieval systems
    * (sparse BM25, dense cosine, …) into one ranking:
    *
    *   rrf(q, d) = Σ_systems 1 / (k0 + rank_system(q, d))
    *
    * computed in PURE integer micro-units — each vote contributes
    * 10⁶ DIV (k0 + rank), a bigint floor division both engines
    * truncate identically, so no floating point touches the fusion
    * and cross-engine agreement is arithmetic identity (the RRF
    * ordering is unchanged: x ↦ 10⁶ DIV x is monotone over the
    * bounded rank domain and distinct ranks ≤ k0+k keep distinct
    * contributions for any k ≤ ~940 at k0=60). RRF needs no score
    * calibration between systems — only ranks — which is exactly why
    * it is the production default for hybrid sparse+dense retrieval.
    *
    * Input contract: `ranked` holds ONE ROW PER SYSTEM'S VOTE —
    * (queryCol, docCol, rankCol) with rank 1-based within each
    * (system, query) list; the union of the systems' top-k outputs.
    * Each (query, doc) pair may appear once per system; `n_systems`
    * counts the votes.
    *
    * Scale shape: the input is workload-bounded by construction
    * (|queries| × k × systems — top-k lists, never corpora), so the
    * fusion aggregate is tiny regardless of corpus size; the final
    * per-query cut still uses the bounded [[graft.functions.TopK]]
    * k-heap rather than a window, the same posture as every ranked
    * cut in this module.
    *
    * Output: (query_id, doc_id, n_systems, rrf_u) — top `k` per
    * query by (rrf_u desc, doc_id asc).
    */
  def rrfFuse(
      ranked: DataFrame,
      queryCol: String,
      docCol: String,
      rankCol: String,
      k: Int,
      k0: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k0 >= 0, s"k0 must be >= 0, got $k0")
    import graft.functions.TopK
    val fused = ranked
      .select(col(queryCol).as("query_id"), col(docCol).as("doc_id"),
        // 1-based-rank input contract enforced LOUDLY: a rank < 1 is a
        // caller bug (a 0-based list, or rank = -k0 which makes the DIV
        // divide by zero), and its NULL contribution would be silently
        // dropped by sum() — a quietly wrong fused score. raise_error
        // costs nothing on the valid path (workload-bounded input).
        when(col(rankCol) < 1,
          raise_error(concat(lit(s"rrfFuse: `$rankCol` must be a 1-based rank >= 1, got "),
            col(rankCol).cast("string"))).cast("long"))
          .otherwise(
            expr(s"CAST(1000000 AS BIGINT) DIV CAST($k0 + `$rankCol` AS BIGINT)"))
          .as("__c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_systems"),
        sum(col("__c")).as("rrf_u"))
    fused.groupBy(col("query_id"))
      .agg(TopK.smallestK(
        struct((-col("rrf_u")).as("nr"), col("doc_id").as("d"),
          col("n_systems").as("ns")), k).as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__t"))
      .select(col("query_id"), col("__t.d").as("doc_id"),
        col("__t.ns").as("n_systems"), (-col("__t.nr")).as("rrf_u"))
  }

  // ------------------------------------------------------------------
  // Graph ANN (NSW-lite) — the fourth index family beside IVF / PQ /
  // int8: a degree-bounded k-NN graph + fixed-round beam search, the
  // tier Lucene HNSW / FAISS NSG deployments default to. "Lite"
  // because the build skips HNSW's insertion-order hierarchy: the
  // neighbor lists come from the SAME banded sign-LSH candidate
  // generation the near-dup tier already runs (a deterministic,
  // oracle-replayable stand-in for the incremental build, which is
  // sequential by nature and has no exact distributed analog), and
  // the search runs a FIXED number of expansion rounds instead of a
  // convergence loop — the bounded-iteration posture every trained
  // artifact in this library uses so the DuckDB oracle can replay the
  // rounds as unrolled CTEs and hash-match bit-for-bit.
  // ------------------------------------------------------------------

  /** Sentinel for [[nswGraph]]/[[nswInsert]]'s `bitsPerBand`: compute
    * the banding from a corpus count ([[nswAutoBits]]) instead of
    * pinning it.
    */
  val NswBitsAuto: Int = 0

  /** Auto-sizing clamp: below [[NswMinBits]] the bands stop
    * discriminating at all; above [[NswMaxBits]] (2^24 buckets/band)
    * the hot-bucket SPLIT (`Dedup.splitBuckets` — candidates linear
    * in bucket size) is the remaining guard, so pushing bits further
    * buys nothing.
    */
  val NswMinBits: Int = 4
  val NswMaxBits: Int = 24

  /** Corpus-sized band width for the NSW graph build: the smallest
    * `bits` in [`NswMinBits`, `NswMaxBits`] whose floor-shifted
    * mean bucket population `n >> bits` is ≤ 3 × `degree` — the
    * middle of the documented 2–4×-degree target band (bucket big
    * enough to fill every neighbor list, small enough that the
    * within-bucket self-join stays ~constant per node, making the
    * whole build LINEAR in n). Deliberately integer-only — shift and
    * compare, no float log2 — so the DuckDB oracle replays the
    * identical choice from its own COUNT(*) (`MIN(b) FROM
    * generate_series WHERE (n >> b) <= 3*degree`) with zero
    * rounding-boundary risk. Measured (NswScaleBench r16): at
    * N=20,000 this rule picks bits=10, which builds ~6× cheaper than
    * the old pinned 6 at equal-or-better recall; at the sf0.1
    * fixture's N=2,000 it picks the same 6 the fixture was tuned at.
    */
  def nswAutoBits(n: Long, degree: Int): Int = {
    require(degree >= 1, s"degree must be >= 1, got $degree")
    val target = 3L * degree
    (NswMinBits to NswMaxBits)
      .find(b => (n >> b) <= target)
      .getOrElse(NswMaxBits)
  }

  /** Resolve the build banding: explicit positive `bitsPerBand` wins
    * (tests, A/B curves); [[NswBitsAuto]] pays ONE distributed count
    * of the valid rows (same filter [[bucketedPairsLazy]] applies, so
    * the n the rule sees is the n the build keys) — the semDedup
    * √N-posture scalar aggregate. Capped at `dim`: a band cannot
    * sample more distinct coordinates than the vector has.
    */
  private def resolveNswBits(
      corpus: DataFrame, vecCol: String, dim: Int,
      bitsPerBand: Int, degree: Int): Int =
    if (bitsPerBand != NswBitsAuto) bitsPerBand
    else {
      val n = corpus
        .filter(col(vecCol).isNotNull && size(col(vecCol)) >= dim)
        .count()
      math.min(dim, nswAutoBits(n, degree))
    }

  /** Degree-bounded k-NN graph over an embedding column: banded
    * sign-LSH candidates (`bucketedPairsLazy` — never all-pairs),
    * cosine-verified, symmetrized, then cut to the top-`degree`
    * neighbors per node by (cos desc, dst asc) with the bounded
    * [[graft.functions.TopK]] heap (map-side partial k-heaps — no
    * per-node sort, no window over the edge stream).
    *
    * The default banding is COARSER than the near-dup tier's
    * (fewer bits → bigger buckets): a graph build wants enough
    * same-bucket candidates to fill every node's neighbor list, where
    * near-dup wants buckets so tight that candidates are probable
    * duplicates. Hot buckets are rank-chunk split, not dropped
    * (`Dedup.splitBuckets`), so dense directions keep their edges.
    *
    * `bitsPerBand` IS SIZED WITH THE CORPUS BY DEFAULT: bucket
    * population is N / 2^bits, and within-bucket candidates grow with
    * its SQUARE — at fixed bits the build is quadratic in N (measured
    * r16: 10× data → 7× cost at pinned 6 bits). The default
    * ([[NswBitsAuto]]) computes [[nswAutoBits]] from one distributed
    * count of the valid corpus rows — the [[Dedup.semDedup]] √N
    * posture — choosing the smallest bits whose floor-shifted bucket
    * target `N >> bits` is ≤ 3×`degree` (inside the documented 2–4×
    * band: candidates-per-node stay constant, the build linear, and
    * neighbor lists full). The rule is INTEGER-ONLY (no float log2)
    * so the DuckDB oracle replays it bit-for-bit from its own
    * COUNT(*), and [[graft.functions.VectorFunctions.planeIndices]]
    * is prefix-stable in bits, so the oracle carries one max-bits
    * plane set and filters `j <= bits`. Pass an explicit positive
    * `bitsPerBand` to pin the banding (tests, A/B curves).
    *
    * Scale shape: candidates are equi-join bounded (bands ×
    * chunked-bucket size), edges shuffle once on `src` into the heap
    * aggregate, and the materialized graph is exactly |C| × degree
    * rows — the artifact a deployment persists and serves beam
    * searches from. Output: (src, dst, cos).
    */
  def nswGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64,
      nBands: Int = 8,
      bitsPerBand: Int = NswBitsAuto,
      degree: Int = 8,
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    require(degree >= 1, s"degree must be >= 1, got $degree")
    val bits = resolveNswBits(corpus, vecCol, dim, bitsPerBand, degree)
    // minCosine = -1: a k-NN GRAPH keeps its best candidates however
    // weak (connectivity is the point); thresholding is the near-dup
    // tier's job. Null cosines still drop (cos >= -1 fails on null).
    val (keys, pairs) = bucketedPairsLazy(
      corpus, idCol, vecCol, dim, nBands, bits,
      minCosine = -1.0, maxBucket = maxBucket)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .unionByName(
        pairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    // Eager with lineage cut (the pair-pipeline posture): the beam
    // search reads the graph once per round, and the banded-key cache
    // must not outlive the build.
    Dedup.eagerRelease(Seq(keys), topDegree(edges, degree))
  }

  /** Long-range slice of the neighbor-list budget: the navigable-
    * small-world construction keeps MOST links near and a FEW far
    * (Kleinberg's long-range links; HNSW's upper layers serve the
    * same routing role) — without them a saturated candidate set
    * yields pure in-cluster k-NN islands and the beam cannot route
    * between regions (measured on the manifold fixture: all-near
    * lists at corpus-sized banding strand every query whose cluster
    * entry point is filtered as a self-match — recall 0.67 vs 1.00
    * with 2 far links). Two suffice; below degree 6 the budget is too
    * small to split and the cut stays all-near (which also keeps the
    * small-candidate unit fixtures byte-identical: when a node has
    * ≤ degree candidates, near ∪ far is the whole set either way).
    */
  def nswFarLinks(degree: Int): Int = if (degree >= 6) 2 else 0

  /** Shared neighbor-list cut: best `degree − far` edges per `src` by
    * (cos desc, dst asc) PLUS the `far` weakest by (cos asc, dst asc)
    * — the long-range links ([[nswFarLinks]]) — via two bounded TopK
    * heaps in ONE aggregate (single shuffle, single edge scan;
    * map-side partial heaps, no window over the edge stream). The
    * per-src union dedups in-row (`array_distinct` over exploded
    * struct lists), so a node whose candidates number ≤ degree keeps
    * exactly its full set once.
    */
  private def topDegree(edges: DataFrame, degree: Int): DataFrame = {
    val far = nswFarLinks(degree)
    val near = degree - far
    if (far == 0)
      edges
        .groupBy(col("src"))
        .agg(graft.functions.TopK.smallestK(
          struct((-col("cos")).as("nc"), col("dst").as("dst")), degree).as("top"))
        .select(col("src"), explode(col("top")).as("t"))
        .select(col("src"), col("t.dst").as("dst"), (-col("t.nc")).as("cos"))
    else
      edges
        .groupBy(col("src"))
        .agg(
          graft.functions.TopK.smallestK(
            struct((-col("cos")).as("a"), col("dst").as("b")), near).as("nt"),
          graft.functions.TopK.smallestK(
            struct(col("cos").as("a"), col("dst").as("b")), far).as("ft"))
        .select(col("src"), explode(array_distinct(concat(
          transform(col("nt"), t =>
            struct(t.getField("b").as("dst"), (-t.getField("a")).as("cos"))),
          transform(col("ft"), t =>
            struct(t.getField("b").as("dst"), t.getField("a").as("cos")))))).as("e"))
        .select(col("src"), col("e.dst").as("dst"), col("e.cos").as("cos"))
  }

  /** INCREMENTAL graph maintenance — the arrival-time member of the
    * index family (the D8/D9/D25c ingest posture applied to the NSW
    * tier, and what HNSW `add()` does sequentially): insert a batch
    * of new vectors into a STANDING [[nswGraph]] without rebuilding
    * it.
    *
    *   - Batch nodes get neighbor lists from banded candidates
    *     against the corpus ([[nearDupsAgainstCorpusEmbed]]'s routed
    *     band index — the corpus never self-joins) plus banded
    *     batch-self candidates (a batch is ingest-sized by contract).
    *   - Corpus nodes that collided with the batch re-rank their
    *     existing neighbor list against the new reverse edges (the
    *     bidirectional-link step of the NSW insert algorithm); the
    *     rest of the corpus graph passes through UNTOUCHED — the
    *     whole update is batch-bounded, never corpus-rebuilding.
    *
    * Output: the updated (src, dst, cos) graph, same contract as
    * [[nswGraph]]. Ids are assumed distinct across the two frames
    * (the ingest contract).
    */
  def nswInsert(
      graph: DataFrame,
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64,
      nBands: Int = 8,
      bitsPerBand: Int = NswBitsAuto,
      degree: Int = 12,
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    require(degree >= 1, s"degree must be >= 1, got $degree")
    // Auto banding resolves from the STANDING corpus count — the same
    // n the standing [[nswGraph]] sized itself from, so the insert's
    // band keys match the graph's by construction. A deployment
    // re-sizes at its rebuild cadence, not per batch (a batch is
    // ingest-sized by contract and cannot move the bits choice).
    val bits = resolveNswBits(corpus, vecCol, dim, bitsPerBand, degree)
    val bc = nearDupsAgainstCorpusEmbed(corpus, batch, idCol, vecCol,
      dim, nBands, bits, minCosine = -1.0, maxBucket = maxBucket)
    val (bKeys, bbPairs) = bucketedPairsLazy(batch, idCol, vecCol,
      dim, nBands, bits, minCosine = -1.0, maxBucket = maxBucket)
    val batchEdges = bc.select(col("id_b").as("src"), col("id_c").as("dst"), col("cos"))
      .unionByName(bbPairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("cos")))
      .unionByName(bbPairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    val newLists = topDegree(batchEdges, degree)
    // Reverse edges: affected corpus nodes re-rank old ∪ new; the
    // affected id set is batch-candidate-bounded, so the anti-join
    // side stays small regardless of corpus size.
    val rev = bc.select(col("id_c").as("src"), col("id_b").as("dst"), col("cos"))
    val affected = rev.select(col("src")).distinct()
    val reRanked = topDegree(
      graph.join(affected, Seq("src")).unionByName(rev), degree)
    val untouched = graph.join(affected, Seq("src"), "left_anti")
    Dedup.eagerRelease(Seq(bKeys),
      untouched.unionByName(reRanked).unionByName(newLists))
  }

  /** Build the standing [[nswGraph]] AND fold a batch in with
    * [[nswInsert]]'s exact semantics, sharing the corpus-side work the
    * two calls duplicated when composed (round 18, guide §1.2 "don't
    * compute things you throw away"):
    *
    *   - the auto-banding count runs ONCE (both calls resolve bits
    *     from the same standing-corpus count by contract);
    *   - the corpus (id, band, key) frame is computed ONCE and
    *     persisted — the separate calls re-evaluated the banded
    *     sign-LSH keys over the corpus for the build's self-join
    *     split AND AGAIN for the insert's routed index;
    *   - the standing-graph cut and the batch×corpus verify cut are
    *     independent eager chains, so they overlap (§2.6).
    *
    * Result is IDENTICAL to
    * `nswInsert(nswGraph(corpus, …), corpus, batch, …)` — every frame
    * below is the same formula over the same inputs (SimilaritySpec
    * pins the equality). The only non-shared difference: this path
    * does not emit `bucketedPairsLazy`'s `graft.bucketedPairs`
    * observe metric for the corpus side (metrics only; no rows move).
    */
  def nswGraphInsert(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64,
      nBands: Int = 8,
      bitsPerBand: Int = NswBitsAuto,
      degree: Int = 12,
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    require(degree >= 1, s"degree must be >= 1, got $degree")
    import org.apache.spark.sql.graft.CheckpointBlocks
    val bits = resolveNswBits(corpus, vecCol, dim, bitsPerBand, degree)
    val c = corpus
      .select(col(idCol).as("id_c"), col(vecCol).as("id_c_vec"))
      .filter(col("id_c_vec").isNotNull && size(col("id_c_vec")) >= dim)
    // ONE corpus banding, persisted: read by the build's self-join
    // split (twice via the join sides), its hot-bucket count, and the
    // insert's routed index + hot frame.
    val keysC = c.select(col("id_c"),
        explode(VectorFunctions.bandSignKeys(col("id_c_vec"), dim, nBands, bits)).as("bk"))
      .select(col("id_c"), col("bk.band").as("band"), col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- standing graph (nswGraph's plan over the shared keys) ----
      val e = c.select(col("id_c").as("id"), col("id_c_vec").as("vec"))
      val keys = keysC.select(col("id_c").as("id"), col("band"), col("key"))
      val capped = Dedup.splitBuckets(keys, maxBucket)
      val candCC = capped.as("a")
        .join(capped.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.__sub") === col("b.__sub") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val pairsCC = candCC
        .join(e.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
        .join(e.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(VectorFunctions.cosineFast(col("va"), col("vb")), 6).as("cos"))
        .filter(col("cos") >= -1.0)
      val edges = pairsCC.select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
        .unionByName(
          pairsCC.select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
      // ---- batch×corpus verified pairs (nearDupsAgainstCorpusEmbed's
      // plan over the shared keys) ----
      val (split, hot) = Dedup.splitBucketsWithRouting(keysC, maxBucket, idCol = "id_c")
      val b = batch
        .select(col(idCol).as("id_b"), col(vecCol).as("id_b_vec"))
        .filter(col("id_b_vec").isNotNull && size(col("id_b_vec")) >= dim)
      val keysB = b.select(col("id_b"),
          explode(VectorFunctions.bandSignKeys(col("id_b_vec"), dim, nBands, bits)).as("bk"))
        .select(col("id_b"), col("bk.band").as("band"), col("bk.key").as("key"))
      val bcLazy = Dedup.routeToChunks(keysB, hot, "id_b")
        .join(split, Seq("band", "key", "__sub"))
        .select(col("id_b"), col("id_c"))
        .distinct()
        .join(b, Seq("id_b"))
        .join(c, Seq("id_c"))
        .select(col("id_b"), col("id_c"),
          round(VectorFunctions.cosineFast(col("id_b_vec"), col("id_c_vec")), 6).as("cos"))
        .filter(col("cos") >= -1.0)
      // The two cuts are independent eager chains — overlap (§2.6).
      val (graph, bc) = Par.par2(
        () => CheckpointBlocks.cut(topDegree(edges, degree)),
        () => CheckpointBlocks.cut(bcLazy))
      // ---- fold (nswInsert's tail, verbatim) ----
      val (bKeys, bbPairs) = bucketedPairsLazy(batch, idCol, vecCol,
        dim, nBands, bits, minCosine = -1.0, maxBucket = maxBucket)
      val batchEdges = bc.select(col("id_b").as("src"), col("id_c").as("dst"), col("cos"))
        .unionByName(bbPairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("cos")))
        .unionByName(bbPairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
      val newLists = topDegree(batchEdges, degree)
      val rev = bc.select(col("id_c").as("src"), col("id_b").as("dst"), col("cos"))
      val affected = rev.select(col("src")).distinct()
      val reRanked = topDegree(
        graph.join(affected, Seq("src")).unionByName(rev), degree)
      val untouched = graph.join(affected, Seq("src"), "left_anti")
      val out = Dedup.eagerRelease(Seq(bKeys),
        untouched.unionByName(reRanked).unionByName(newLists))
      CheckpointBlocks.release(graph)
      CheckpointBlocks.release(bc)
      out
    } finally keysC.unpersist()
  }

  /** Fixed-round beam search over a [[nswGraph]]: start every query at
    * the same `nEntries` deterministic entry points (the lowest corpus
    * ids — replayable, and at corpus scale any fixed handful of
    * well-connected nodes serves; HNSW's learned entry point is an
    * optimization of the same idea), then `rounds` times expand the
    * beam through the graph's neighbor lists, re-score candidates
    * against the query vector, and keep the best `beamWidth` per query
    * by (cos desc, n_id asc). After the last round the beam's top `k`
    * is the answer.
    *
    * Beam rows are RE-scored each round rather than carrying scores
    * through the union — one extra bounded join per round buys a
    * single scoring code path, and the frames are |Q| × beamWidth ×
    * (degree + 1), workload-bounded regardless of corpus size.
    *
    * Scale shape, per round: the beam (workload-bounded) BROADCASTS
    * into the corpus-sized graph and vector frames — the corpus never
    * shuffles, exactly the [[bruteForceTopK]] posture; the top-beam
    * cut is the bounded TopK heap. `rounds` is fixed, so the whole
    * search is `rounds` broadcast joins + heap aggregates, and the
    * DuckDB oracle unrolls the rounds as CTEs (the kmeans/BPE/GD
    * fixed-iteration contract).
    *
    * Output: (q_id, n_id, cos), ≤ k rows per query. Self-matches are
    * excluded (the [[bruteForceTopK]] ground-truth contract).
    */
  def nswSearch(
      queries: DataFrame,
      corpus: DataFrame,
      graph: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beamWidth: Int = 24,
      rounds: Int = 3,
      nEntries: Int = 8,
      entryBeam: Option[DataFrame] = None): DataFrame =
    nswSearchTrace(queries, corpus, graph, idCol, vecCol,
      k, beamWidth, Seq(rounds), nEntries, entryBeam).head

  /** The round-0 ENTRY beam of [[nswSearchTrace]], exposed as its own
    * eager cut (round 18): it reads only the corpus and the queries —
    * NOT the graph — so a caller that builds the graph eagerly can
    * compute it in a parallel arm (Par, §2.6) and pass it back via
    * `entryBeam`, instead of serializing it after the build. Same code
    * path as the internal default, so the beam chain is unchanged.
    */
  private[graft] def nswEntryBeam(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      beamWidth: Int,
      nEntries: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val entries = c.select(col("n_id")).orderBy(col("n_id").asc).limit(nEntries)
    val cand0 = q.select(col("q_id")).crossJoin(broadcast(entries))
    org.apache.spark.sql.graft.CheckpointBlocks.cut(
      topKByCos(nswRescore(q, c, cand0), beamWidth, carryCell = false))
  }

  /** Re-score a (q_id, n_id) candidate frame: broadcast the bounded
    * candidate set into the corpus vector frame (corpus never
    * shuffles), then broadcast-attach the query vectors.
    */
  private def nswRescore(q: DataFrame, c: DataFrame, cand: DataFrame): DataFrame =
    c.join(broadcast(cand), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorFunctions.cosineFast(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos").isNotNull)

  /** [[nswSearch]] with the beam chain's INTERMEDIATE answers exposed:
    * one output frame per requested round count, all cut from ONE
    * shared chain. Beams at increasing round counts are PREFIXES of
    * the same deterministic computation (round r's beam depends only
    * on round r−1's), so a rounds-tuning curve that runs
    * `nswSearch(rounds = 1)`, `(3)`, `(5)` separately re-executes the
    * shared prefix 3× — 1+3+5 = 9 round jobs plus 3 entry beams where
    * max(rounds) + 1 suffice (guide §1.2: don't compute things you
    * throw away). Each returned frame is byte-identical to the
    * separate-search result by construction: same entry beam, same
    * per-round expansion, same top-k cut.
    */
  def nswSearchTrace(
      queries: DataFrame,
      corpus: DataFrame,
      graph: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beamWidth: Int,
      roundsWanted: Seq[Int],
      nEntries: Int,
      entryBeam: Option[DataFrame] = None): Seq[DataFrame] = {
    require(roundsWanted.nonEmpty && roundsWanted == roundsWanted.sorted.distinct
      && roundsWanted.head >= 1,
      s"roundsWanted must be ascending distinct positives, got $roundsWanted")
    require(k >= 1 && beamWidth >= k && nEntries >= 1,
      s"bad args (k=$k, beamWidth=$beamWidth, nEntries=$nEntries)")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val g = graph.select(col("src"), col("dst"))
    def rescore(cand: DataFrame): DataFrame = nswRescore(q, c, cand)
    // Each round's beam is checkpoint-CUT: the next round reads it
    // TWICE (as the expansion seed and as a union member), so an
    // uncut chain doubles the embedded prior-round plan per round —
    // 2^rounds re-executions of round 0 (measured: 167 s vs 13 s at
    // sf0.1 before the cut). Same per-iteration lineage-cut rule as
    // [[kmeansFit]]'s lloydIteration; the cut frames are tiny
    // (|Q| × beamWidth rows). The round-0 entry beam may arrive
    // prebuilt ([[nswEntryBeam]] — callers overlap it with the graph
    // build; it reads only corpus + queries).
    var beam = entryBeam.getOrElse(
      nswEntryBeam(queries, corpus, idCol, vecCol, beamWidth, nEntries))
    val out = scala.collection.mutable.ArrayBuffer[DataFrame]()
    (1 to roundsWanted.max).foreach { r =>
      val ids = beam.select(col("q_id"), col("n_id"))
      val nbrs = g.join(broadcast(ids), col("n_id") === col("src"))
        .select(col("q_id"), col("dst").as("n_id"))
      val cand = ids.unionByName(nbrs).distinct()
      beam = CheckpointBlocks.cut(
        topKByCos(rescore(cand), beamWidth, carryCell = false))
      if (roundsWanted.contains(r))
        out += topKByCos(beam, k, carryCell = false)
    }
    out.toSeq
  }
}
