package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale-critical physical-plan
  * properties the round-1 review flagged, pinned so they cannot
  * silently regress. These assert on the executed plan of the real
  * registered queries over sf0.001.
  */
class PlanSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Every registered query's frame, built ONCE and shared by the
    * full-registry structural sweeps (three sweeps each re-building
    * 247 queries triples the cost of the EAGER builders — the
    * tokenizer-training arms run driver-side jobs during frame
    * CONSTRUCTION; measured r17: the open-vocab A/B arms alone added
    * minutes per sweep). QueryExecution memoizes analyzed/executed
    * plans on the frame, so each sweep reads its view for free.
    */
  private lazy val builtQueries: Seq[(String, org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) => (n, fn(spark, dir)) }

  test("a freshly built fact query reads the persisted fact view (InMemoryRelation)") {
    // The warm server (Tables.spread) depends on this: every query
    // rebuilds the fact view, and the CacheManager must still match it.
    def optimized = SparkEntry.queries("f4_date_between")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("InMemoryRelation"), "nothing is persisted yet")
    val fact = graft.sources.Tables.analiseComercial(spark, dir).persist()
    try {
      val p = optimized
      assert(p.contains("InMemoryRelation"), p.take(800))
    } finally fact.unpersist(blocking = true)
  }

  test("o4_paginate plans as TakeOrdered with offset, not a global window") {
    val p = plan("o4_paginate")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(p.contains("offset=100"), p.take(500))
    assert(!p.contains("Window"), "no partition-less window over the fact")
  }

  test("stratifiedSample is a pure narrow filter; balancedDownsample broadcasts its counts") {
    // Per-stratum rates compile to a CASE inside a Filter — no join
    // anywhere in the plan, so the 100 TB cost is exactly one scan.
    val strat = graft.operators.Sampling.stratifiedSample(
      graft.sources.Tables.documents(spark, dir), "doc_id", "lang",
      Map("en" -> 10), defaultPct = 50)
      .queryExecution.executedPlan.toString
    assert(!strat.contains("Join"), strat.take(800))
    // The balance rate needs cardinalities, but the corpus side must
    // only ever meet them as BROADCAST builds — a shuffled (sort-merge)
    // join of the fact against its own counts would be the scale bug.
    val bal = graft.operators.Sampling.balancedDownsample(
      graft.sources.Tables.documents(spark, dir), "doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(bal.contains("BroadcastHashJoin") || bal.contains("BroadcastNestedLoopJoin"),
      bal.take(800))
    assert(!bal.contains("SortMergeJoin"), bal.take(800))
  }

  test("c_iqr_trim broadcasts its fences and keeps the fact side shuffle-free to the filter") {
    val p = plan("c_iqr_trim")
    assert(p.contains("percentile_disc"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), "fences must come back as a broadcast build")
    assert(!p.contains("SortMergeJoin"), "fact x fences must not plan a shuffled join")
    assert(!p.contains("Window"), "fences are an aggregate, not a per-row window")
  }

  test("text_tfidf ranks per-doc terms via the bounded aggregate, no Expand, no window") {
    val p = plan("text_tfidf")
    assert(p.contains("collect_top_k"), p.take(800))
    assert(!p.contains("Expand"), "df-counting must not plan a count-distinct Expand")
    assert(!p.contains("Window"), "per-doc cut must be the k-heap, not a window sort")
  }

  test("text_bm25_batch: postings-sized plan — broadcast query side, k-heap, no window") {
    val p = plan("text_bm25_batch")
    // The per-query cut must be the bounded CollectTopK aggregate
    // (map-side k-heaps), never a row_number window sort per query.
    assert(p.contains("collect_top_k"), p.take(800))
    assert(!p.contains("Window"), "per-query top-k must not plan a window sort")
    // The |Q|-bounded query/term frames meet the postings as
    // BROADCAST builds — the explode is pruned by the distinct-term
    // join before any aggregation.
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("text_quality_gopher is one narrow codegen pass: no shuffle, no join (T23)") {
    val p = plan("text_quality_gopher")
    assert(!p.contains("Exchange"), "the Gopher gate must not shuffle:\n" + p.take(600))
    assert(!p.contains("Join"), p.take(600))
    assert(!p.contains("Window"), p.take(600))
  }

  test("text_line_boiler: hash-keyed joins only, no cartesian, no window (T22)") {
    val p = plan("text_line_boiler")
    // Line explode is a Generate; counting and membership ride the
    // 32-char hash — never a nested-loop or cartesian anywhere, and
    // reassembly is an aggregate, not a corpus window sort.
    assert(p.contains("Generate"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(!p.contains("Window"), "reassembly must be collect_list agg, not a window:\n" + p.take(600))
  }

  test("text_bm25_eval: k-heap per arm, impact rank windows partitioned by term (T20d)") {
    val exec = SparkEntry.queries("text_bm25_eval")(spark, dir).queryExecution.executedPlan
    val p = exec.toString
    assert(p.contains("collect_top_k"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // Every window in the plan is partitioned (posting rank BY TERM,
    // truth/approx rank BY QUERY) — no global sort anywhere.
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "found a partition-less window in the eval plan:\n" + p.take(800))
  }

  test("a7_a8_argmax uses constant-state max_by, not collect_list") {
    val p = plan("a7_a8_argmax")
    assert(p.contains("max_by"))
    assert(!p.contains("collect_list"))
  }

  // ann_lsh_bucket's registered form is EAGER (bucketedPairs persists +
  // materializes its result), so its visible plan is just the cache
  // read — plan pins run on the lazy builder, the same code path.
  private def lshPairsLazy() = graft.operators.Similarity.bucketedPairsLazy(
    graft.sources.Tables.embeddings(spark, dir), "vec_id", "embedding",
    dim = 64, nBands = 6, bitsPerBand = 12, minCosine = 0.2)

  test("near-dup and ANN candidate generation never cross-joins the corpus") {
    // ann_cosine_topk intentionally broadcast-cross-joins the tiny QUERY
    // side; the corpus-sized self-joins must all be equi-joins. All the
    // pair pipelines are EAGER now, so pins run on the lazy builders —
    // the identical plan the eager wrappers materialize.
    val docs = graft.sources.Tables.documents(spark, dir)
    val (mhCaches, mhPairs) = graft.operators.Dedup
      .minhashPairsKernelLazy(docs, "doc_id", "text", "word", 3, 16, 4, 0.4)
    val (shCaches, shPairs) = graft.operators.Dedup
      .simhashPairsLazy(docs, "doc_id", "text", 6, 4, 15)
    val (lshKeys, lshPairs) = lshPairsLazy()
    val (incCaches, incPairs) = {
      import org.apache.spark.sql.functions.col
      graft.operators.Dedup.nearDupsAgainstCorpusLazy(
        docs.filter(col("doc_id") % 10 < 8), docs.filter(col("doc_id") % 10 >= 8),
        "doc_id", "text", 6, 4, 15)
    }
    val named = Seq(
      "dedup_minhash" -> mhPairs, "dedup_simhash" -> shPairs, "ann_lsh" -> lshPairs,
      "dedup_incr_near" -> incPairs)
    try named.foreach { case (q, pairs) =>
      val p = pairs.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
      // The hot-bucket SPLIT's flag attach must be a BROADCAST
      // left-outer probe (the hot set is ≤ |banded|/cap keys) — a
      // shuffled (sort-merge) outer would re-shuffle the whole banded
      // frame just to tag a handful of hot keys; under-cap rows must
      // stay on the no-shuffle path.
      assert(p.contains("LeftOuter"), s"$q lost the hot-bucket split flag join:\n" + p.take(600))
      assert(!p.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("LeftOuter")),
        s"$q hot-bucket split flag planned as a shuffled outer join:\n" + p.take(600))
    } finally (mhCaches ++ shCaches ++ incCaches :+ lshKeys).foreach(_.unpersist())
  }

  test("eager pair pipelines release their internal caches (only the result survives)") {
    import org.apache.spark.storage.StorageLevel
    val docs = graft.sources.Tables.documents(spark, dir)
    // Drive eagerRelease with the lazy builder's OWN cache handles —
    // asserting on these exact frames is what makes the pin
    // non-vacuous (a fresh frame never canonicalizes equal to the
    // kernel's mapPartitions closure, so it reads NONE regardless).
    val (caches, pairsLazy) = graft.operators.Dedup
      .minhashPairsKernelLazy(docs, "doc_id", "text", "word", 3, 16, 4, 0.4)
    val result = graft.operators.Dedup.eagerRelease(caches, pairsLazy)
    caches.foreach(c => assert(c.storageLevel == StorageLevel.NONE,
      "internal signature cache leaked past the call"))
    // Lineage must be TRUNCATED (localCheckpoint), not cached-with-
    // lineage: a persisted result whose plan still referenced the
    // internal caches would be CLEARED by CacheManager's recache when
    // they unpersist, and every later read would recompute the whole
    // pipeline cold (measured 10× on dedup_ngram).
    val p = result.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"eager result must read materialized blocks, not recompute: ${p.take(300)}")
  }

  test("bucketed tables join with no shuffle on either side (co-located join)") {
    // AQE off so the pre-execution plan is final; broadcast off so the
    // tiny sf0.001 side can't sidestep the bucketed sort-merge path.
    val s = spark
    val oldAqe = s.conf.get("spark.sql.adaptive.enabled")
    val oldBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions.col
      graft.sources.Sink.saveBucketed(
        graft.sources.Tables.lineitem(s, dir).select("l_orderkey", "l_quantity"),
        "graft_bkt_plan_l", Seq("l_orderkey"), 4, Seq("l_orderkey"))
      graft.sources.Sink.saveBucketed(
        graft.sources.Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        "graft_bkt_plan_o", Seq("o_orderkey"), 4, Seq("o_orderkey"))
      val j = s.table("graft_bkt_plan_l")
        .join(s.table("graft_bkt_plan_o"), col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(400))
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side: ${p.take(600)}")
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", oldAqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
  }

  test("j_range_events equi-joins on time buckets, not a nested-loop range join") {
    // A bare BETWEEN join condition plans as BNLJ/cartesian — the
    // |L|x|R| scan. The bucketized form must join on the bucket id.
    val p = plan("j_range_events")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("j_overlap_events equi-joins on buckets too (interval x interval, no BNLJ)") {
    val p = plan("j_overlap_events")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("j_asof_events plans join-free: union + keyed window, no pair blowup") {
    // The naive as-of formulations plan a range join (BNLJ at worst) or
    // an argmax over a per-key cross product; the union+carry shape has
    // NO join node at all — one shuffle on the key, one linear pass.
    val p = plan("j_asof_events")
    assert(!p.contains("Join"), s"as-of must not plan a join: ${p.take(400)}")
    assert(p.contains("Window"), "expected the keyed carry-forward window")
    assert(p.contains("Union"), "expected the tagged two-side union")
  }

  test("ann_cosine_topk ranks via bounded partial-merged top-k aggregate, not a window") {
    val p = plan("ann_cosine_topk")
    // A row_number window here would shuffle the full |C|x|Q| scored set
    // onto |Q| reducers and sort |C| rows per query on a single task.
    assert(!p.contains("Window"), "per-query window sort is back:\n" + p.take(800))
    assert(p.contains("partial_collect_top_k"),
      "map-side bounded k-heap (partial aggregation) missing:\n" + p.take(800))
    assert(p.contains("ObjectHashAggregate"))
  }

  test("IVF top-k ranks via the bounded aggregate too (no per-query candidate sort)") {
    // nprobe=1 path: assignment is max_by (no window), ranking is the
    // k-heap — the whole plan must be window-free.
    val p1 = plan("ann_ivf_topk")
    assert(!p1.contains("Window"), "ann_ivf_topk grew a window:\n" + p1.take(800))
    assert(p1.contains("partial_collect_top_k"))
    // multi-probe path: the top-nprobe centroid probe AND the
    // candidate ranking are both bounded aggregates — window-free.
    val p2 = plan("ann_ivf_probe2")
    assert(p2.contains("partial_collect_top_k"))
    val windowNodes = p2.linesIterator.count(_.matches(""".*[+:]-\s*Window\s.*|^\s*Window\s.*"""))
    assert(windowNodes == 0,
      s"a ranking reverted to a window ($windowNodes nodes):\n" + p2.take(800))
  }

  test("ann_kmeans assigns via max_by and aggregates means with map-side partials") {
    // The registered query's FINAL plan is an RDD scan — kmeansFit
    // checkpoints each Lloyd iteration so the plan tree stays
    // iteration-count-independent (round-4 review #3). The shape worth
    // pinning is therefore the per-iteration plan, exposed via
    // lloydIteration: assignment is the broadcast argmax (same shape
    // as ivfAssign) and the elementwise mean is a hash aggregate whose
    // partials collapse to <= k x dim rows per task BEFORE the
    // shuffle — a window (or a partial-less agg) here would move
    // corpus-cardinality data.
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)
    val init = emb.limit(4)
      .select(col("id").as("c_id"), col("vec").as("c_vec"))
    val p = graft.operators.Similarity.lloydIteration(emb, init)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "kmeans grew a window:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("max_by"), "assignment argmax missing:\n" + p.take(800))
    assert(p.contains("partial_sum"), "mean aggregate lost map-side partials:\n" + p.take(800))
    // Round 11: the assignment cosine is composed from the codegen'd
    // dot (cosineFastD) — the interpreted HOF fold would show as
    // `aggregate(zip_with(...))` here and break codegen spans.
    assert(p.contains("graft_dot"),
      "kmeans assignment lost the codegen'd dot:\n" + p.take(800))
    // And the registered query's final plan must BE the checkpoint scan
    // (lineage actually cut, not just intended).
    val reg = plan("ann_kmeans")
    assert(reg.contains("ExistingRDD"),
      "ann_kmeans no longer reads checkpointed blocks — lineage uncut:\n" + reg.take(800))
  }

  test("a16_approx_sketches never plans an Expand (the distinct+percentile funnel)") {
    // Mixing a DISTINCT aggregate with the exact percentile in ONE agg
    // plans Expand -> partial-less single-task sort aggregate: measured
    // 270 s at sf0.1, unbounded at scale. The split three-aggregate
    // form must stay Expand-free with map-side partials.
    val p = plan("a16_approx_sketches")
    assert(!p.contains("Expand"), "the Expand funnel is back:\n" + p.take(800))
    assert(p.contains("partial_"), "sketch aggregates lost map-side partials:\n" + p.take(800))
  }

  test("events_sessionize windows are keyed by user_id (no partition-less window)") {
    val p = plan("events_sessionize")
    assert(p.contains("windowspecdefinition(user_id#"),
      "sessionize window lost its user_id partitioning:\n" + p.take(800))
    assert(!p.contains("windowspecdefinition(ts_us#"),
      "unexpected partition-less window over the event stream:\n" + p.take(800))
  }

  test("TopK.smallestK/largestK match sort-and-slice semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1, 5.0, "e"), (1, 7.0, "a"), (1, 7.0, "b"), (1, 2.0, "z"), (1, 9.0, "m"),
      (2, 1.0, "q")).toDF("g", "x", "id")
    val top = df.groupBy("g")
      .agg(graft.functions.TopK.smallestK(struct((-col("x")).as("nx"), col("id")), 3).as("t"))
      .select(col("g"), explode(col("t")).as("t"))
      .select(col("g"), col("t.id").as("id"), (-col("t.nx")).as("x"))
      .as[(Int, String, Double)].collect().toSet
    // g=1: x desc, id asc -> (9.0,m), (7.0,a), (7.0,b); g=2: its single row
    assert(top == Set((1, "m", 9.0), (1, "a", 7.0), (1, "b", 7.0), (2, "q", 1.0)))
    val bottom = df.groupBy("g")
      .agg(graft.functions.TopK.smallestK(struct(col("x"), col("id")), 2).as("t"))
      .select(col("g"), explode(col("t")).as("t"))
      .select(col("g"), col("t.id").as("id"), col("t.x").as("x"))
      .as[(Int, String, Double)].collect().toSet
    assert(bottom == Set((1, "z", 2.0), (1, "e", 5.0), (2, "q", 1.0)))
  }

  test("ann_lsh_bucket candidate join carries no embedding vectors") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val (keys, pairs) = lshPairsLazy()
    try {
      val candJoins = pairs.queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.exists(_.references.exists(_.name == "key")) => j
      }
      assert(candJoins.nonEmpty, "expected a (band, key) candidate join")
      candJoins.foreach { j =>
        val cols = (j.left.output ++ j.right.output).map(_.name)
        assert(!cols.exists(n => n.contains("vec") || n.contains("embedding")),
          s"vectors ride the candidate shuffle: $cols")
      }
    } finally keys.unpersist()
  }

  test("s6 year-partitioned layout prunes partitions on re-read") {
    val p = plan("s6_c13_sink_roundtrip") // building the df runs the write
    val scan = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(scan.isDefined, "re-read scan exposes no PartitionFilters")
    assert(scan.get.contains("ano"), s"year filter did not reach the partition layer: $scan")
  }

  test("dynamic partition pruning fires on the year-partitioned fact x filtered dim join") {
    // STATIC pruning (the s6 test) needs the year literal in the query;
    // DPP prunes from a runtime value — the dim filter's surviving years
    // reach the fact scan as a dynamicpruning subquery, so a
    // "join to the current period" query reads one partition without
    // anyone spelling the year out. This is free from Catalyst once the
    // layout partitions by the join key — the point of saveFactByYear.
    val dir = tempDir("graft_dpp")
    graft.sources.Sink.saveFactByYear(
      graft.sources.Tables.analiseComercial(spark, "/root/testdata/sf0.001"), s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    import spark.implicits._
    Seq((1995, "old"), (1996, "target"), (1997, "old")).toDF("ano", "tag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val joined = fact.join(dim.filter($"tag" === "target"), Seq("ano"))
      .groupBy($"ano").agg(org.apache.spark.sql.functions.sum($"valor_orcado"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      "fact scan must carry a dynamicpruning partition filter:\n" +
        p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("capped-history and corpus-prep windows are partitioned (no global window)") {
    import org.apache.spark.sql.catalyst.plans.logical
    for (q <- Seq("a9_capped_history", "pipeline_corpus_prep")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val wins = df.queryExecution.optimizedPlan.collect { case w: logical.Window => w }
      assert(wins.nonEmpty, s"$q expected window nodes")
      wins.foreach(w =>
        assert(w.partitionSpec.nonEmpty, s"$q has a partition-less window: $w"))
    }
  }

  test("structural sweep: every registered query plans, none with a CartesianProduct") {
    // One guard over the WHOLE registry: every query must survive
    // analysis + physical planning against the test fixture (catches
    // registry drift the per-query pins can't), and no plan may
    // contain a CartesianProduct — the non-broadcast cross-join
    // fallback that reads |L|×|R| at scale. (BroadcastNestedLoopJoin
    // with a provably-small broadcast side is legitimate and used by
    // the ANN family; CartesianProduct never is.)
    val offenders = builtQueries.flatMap { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("structural sweep: partition-less windows only where the input is aggregate-sized") {
    // A Window whose spec has NO partition columns funnels the whole
    // input through one task — fatal on corpus-sized frames, fine on
    // post-aggregate frames of group cardinality. In plan text a
    // partition-less spec's first argument is an ORDER column (carries
    // ASC/DESC); a partitioned spec leads with bare partition columns.
    val partitionless = """windowspecdefinition\([^,()]*\s(ASC|DESC)""".r
    // Whitelisted: inputs are provably tiny at the window —
    //   abc_classify + pipeline_ep2: client-cardinality post-aggregate
    //     (the documented W1-W4 two-phase story, Abc.scala);
    //   u_delta_semanas: per-week aggregate (a handful of rows);
    //   events_funnel_summary: the k+1-row stage histogram.
    //   j1_inner_join_abc + j5_left_join_default: the window sits
    //     inside their embedded Abc.classify subtree — the same
    //     client-cardinality story.
    //   text_bpe_vocab: token-id ranking over the VOCABULARY
    //     (|alphabet| + merges symbols — dozens here, bounded by the
    //     merge budget by construction, never corpus-scale).
    //   text_bpe_token_ids: embeds the SAME vocabulary ranking window
    //     as text_bpe_vocab (|alphabet| + merges symbols, bounded by
    //     the merge budget by construction).
    //   text_bpe_token_ids_bytes: the same vocabulary ranking window
    //     PLUS the byte-floor ranking (≤36 alphabet rows by
    //     construction — servingVocabWithBytes scaladoc).
    //   text_nb_auc: the Mann-Whitney cumulation runs over the
    //     per-DISTINCT-SCORE aggregate (≤ held-out cohort rows here;
    //     the binned arm bounds it at score-range × scale by
    //     construction — the operator's documented scale rule).
    //   text_lr_auc: the SAME binaryAuc cumulation over the LR
    //     classifier's held-out scores (≤ held-out cohort rows —
    //     the text_nb_auc cardinality argument verbatim).
    val ok = Set("abc_classify", "pipeline_ep2", "u_delta_semanas",
      "events_funnel_summary", "j1_inner_join_abc", "j5_left_join_default",
      "text_bpe_vocab", "text_bpe_token_ids", "text_bpe_token_ids_bytes",
      "text_nb_auc", "text_lr_auc",
      // text_lr_capacity_curve: three binaryAuc cumulations, each over
      // a per-distinct-score aggregate (≤ held-out cohort rows — the
      // text_nb_auc argument per arm).
      "text_lr_capacity_curve",
      // text_zipf_fit: the rank window runs over the VOCABULARY
      // aggregate (term-count table — the text_bpe_vocab bound,
      // never corpus rows).
      "text_zipf_fit",
      // text_unigram_*: the prune + token-id ranking windows run over
      // the trained unigram VOCABULARY (≤ seedMulti + alphabet rows,
      // bounded by the seed budget by construction — the
      // text_bpe_vocab argument; Unigram.train scaladoc).
      "text_unigram_train", "text_unigram_token_ids",
      "text_unigram_vs_bpe_fertility",
      // text_tok_ab_open*: the same two tokenizer training chains as
      // text_unigram_vs_bpe_fertility, over the DERIVED 320-word
      // morphological fixture — every ranking window runs at trained-
      // vocabulary cardinality (≤ seedMulti + alphabet rows), never
      // corpus rows (the text_bpe_vocab argument verbatim).
      "text_tok_ab_open8", "text_tok_ab_open32",
      // events_quantile_reuse: the cumulative walk runs over the
      // MERGED range histogram — ≤ QrBins (256, a literal) rows by
      // construction, never event rows (the daily sketch table is
      // days × ≤ 256 rows and the merge is a groupBy on bin).
      "events_quantile_reuse",
      // events_quantile_bins_curve: the same cumulative walk per arm,
      // each over its own merged histogram — ≤ 256 literal rows (the
      // largest arm), never event rows.
      "events_quantile_bins_curve")
    val offenders = builtQueries.flatMap { case (name, df) =>
      if (ok(name)) None
      else {
        val p = df.queryExecution.executedPlan.toString
        if (partitionless.findFirstIn(p).isDefined) Some(name) else None
      }
    }
    assert(offenders.isEmpty,
      s"unexpected partition-less window (add to whitelist ONLY with a cardinality argument): $offenders")
  }

  test("a24_basket_lift broadcasts the PAIRS side of the support join-backs") {
    // Round-11 scale-killer #1: the support join-backs forced
    // broadcast(partCnt) — PART-cardinality (10⁸–10⁹ at a 100 TB
    // catalog) — onto a pairs frame that is ≤20 rows post-limit. The
    // fix broadcasts the pairs side; the physical pin: both support
    // joins build from the LEFT (the TakeOrdered(20) lineage), and
    // nothing in the query plans a shuffled join.
    val p = plan("a24_basket_lift")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      "top-20 pairs cut lost its bounded TakeOrdered:\n" + p.take(600))
    val buildLeft = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("BuildLeft"))
    assert(buildLeft >= 2,
      s"support join-backs must build from the pairs side (found $buildLeft BuildLeft):\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      "no shuffled join anywhere in the lift query:\n" + p.take(800))
  }

  test("structural sweep: every forced broadcast is literal-bounded or whitelisted") {
    // Round-11 verdict ask #8 (generalizing its two scale-killers —
    // both were FORCED broadcasts of frames whose cardinality tracks
    // the data: a part-cardinality support frame in a24, the
    // distinct-corpus-word map in the BPE encode). The registry-wide
    // invariant: a broadcast() hint may only wrap a frame that is
    // bounded BY CONSTRUCTION — a limit/TakeOrdered, a group-less
    // (1-row) aggregate, or a join one of whose sides is itself
    // bounded and joins on the other side's unique key (the a24
    // join-back shape: ≤20 pairs × unique part key) — or the query
    // must be whitelisted here with an explicit cardinality argument,
    // the same contract the partition-less-window sweep enforces.
    // Hints are read from the ANALYZED plan: the optimizer folds
    // ResolvedHint into join hints, and eager (pre-executed) subtrees
    // were pinned by their own builder tests above.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // Structurally bounded: rows provably cannot track data volume.
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate => a.groupingExpressions.isEmpty || bounded(a.child)
      // Equi-joins keep the a24 either-side rule (bounded side ×
      // unique key). A CONDITION-LESS (cross) join preserves the
      // unbounded side's cardinality when the other is 1-row — the
      // totals-fan-out idiom — so it must NOT launder boundedness:
      // both sides have to be bounded (caught live in round 13: a
      // bucket-table broadcast slipped through via its crossJoin with
      // a 1-row totals frame and had to move to the whitelist with
      // its real bound argued).
      case j: Join if j.condition.isEmpty => bounded(j.left) && bounded(j.right)
      case j: Join => bounded(j.left) || bounded(j.right)
      case u: UnaryNode => bounded(u.child)
      case _: LocalRelation => true // driver-materialized literal data
      case _ => false
    }
    // A frame whose leaves read ONLY dimension tables (nation/region/
    // part/customer/supplier/the xlsx sheet) is broadcastable by the
    // dimension contract — the J2 design posture: the category dim
    // models the reference's ~200-row classification sheet. Frames
    // touching a FACT table (or a checkpoint scan, whose provenance
    // the plan no longer shows) need the whitelist.
    val factTables = Seq("lineitem", "orders", "events", "documents", "embeddings")
    def touchesFactOrUnknown(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(rp => factTables.exists(rp.toString.contains))
        case _ => true
      }
      case _: LocalRelation => false
      case _: OneRowRelation => false
      case _ => true // LogicalRDD (checkpointed) or other: not provable here
    }
    // Whitelist: hinted frames bounded by a CARDINALITY argument the
    // plan cannot show — each entry names the frame and its bound.
    val ok: Map[String, String] = Map(
      "c_iqr_trim" -> "IQR fences: one row per l_returnflag (3-value domain)",
      "c_mad_trim" -> "MAD stats: one row per l_returnflag (3-value domain)",
      "c_mad_trim_approx" -> "MAD stats: one row per l_returnflag (3-value domain)",
      "events_anomaly_days" -> "weekday med/MAD envelopes: exactly 7 rows (epoch-day mod 7)",
      "events_anomaly_ensemble" -> "the same 7-row weekday envelopes + 1-row CUSUM/Holt calibration aggs (the events_anomaly_days bound)",
      "events_seasonal_decomp" -> "weekday-effect means: exactly 7 rows (epoch-day mod 7, the anomaly-days bound)",
      "c_qcut_bins" -> "quantile cut points: n_bins rows per group key (literal bins, 3-value returnflag)",
      "sample_mixture" -> "per-source quantile fences: one row per source (enum domain)",
      "sample_balanced" -> "per-class rates: one row per language label (enum domain)",
      "sample_temperature" -> "per-language temperature targets: one row per lang (enum domain) crossed with the 1-row min frame",
      "sample_dsir" -> "hashed-bigram log-ratio table: <= 1024 rows (pmod literal bucket space) crossed with 1-row totals",
      "sample_dsir_shift" -> "same log-ratio table as sample_dsir (shared dsirScore builder)",
      "text_bm25_topk" -> "per-term document frequencies: one row per LITERAL query term (isin prunes to <= 3 before the aggregate)",
      "ann_cosine_topk" -> "query side: vec_id < 10 literal filter (10 vectors)",
      "ann_filtered" -> "query side: literal vec_id filter",
      "ann_recall" -> "query side: literal vec_id filter (both arms)",
      "ann_int8_recall" -> "query side: literal vec_id filter; scale frame: 1-row agg over it",
      "ann_int8_rerank" -> "query + shortlist sides: literal filter / top-k per query (k-heap output)",
      "ann_ivf_topk" -> "centroids: k-row checkpointed kmeans output; query side literal",
      "ann_ivf_probe2" -> "centroids: k-row checkpointed kmeans output; query side literal",
      "ann_ivf_int8" -> "centroids: k-row checkpointed kmeans output; query side literal",
      "ann_pq_recall" -> "PQ codebooks: m subspaces x 2^bits codewords (k-row checkpoints)",
      "ann_pq_lloyd" -> "PQ codebooks: m x 2^bits codewords after Lloyd refinement (checkpoints)",
      "ann_pq_rerank" -> "PQ codebooks + shortlist: codewords / top-n per query (k-heap output)",
      // The manifold twins run the SAME bodies as their originals over
      // the derived fixture — identical hinted frames, same bounds.
      "ann_recall_manifold" -> "query side: literal vec_id filter (both arms)",
      // NSW beam search: every broadcast frame is workload-bounded —
      // the query side is a literal vec_id filter (10 vectors); each
      // candidate/beam frame is |Q| x beamWidth x (degree+1) rows by
      // the TopK k-heap bound (the aggregate's output is <= beamWidth
      // per query BY CONSTRUCTION, then fans out through at most
      // `degree` graph edges per member).
      "ann_nsw_recall" -> "query side literal filter; beam/candidate frames: |Q| x beam x (degree+1) by the TopK heap bound",
      "ann_nsw_recall_manifold" -> "same frames as ann_nsw_recall (shared nswRecallBody builder)",
      "ann_nsw_rounds_curve" -> "same frames as ann_nsw_recall per arm (shared graph + checkpointed |Q| x k truth)",
      "ann_pq_manifold" -> "PQ codebooks: m subspaces x 2^bits codewords (k-row checkpoints)",
      "ann_pq_lloyd_manifold" -> "PQ codebooks: m x 2^bits codewords after Lloyd refinement (checkpoints)",
      "ann_pq_rerank_manifold" -> "PQ codebooks + shortlist: codewords / top-n per query (k-heap output)",
      "ann_ivfpq_manifold" -> "PQ codebooks + probe table: codewords / |Q| x nprobe rows",
      "text_bpe_token_ids" -> "vocabulary id table: |alphabet| + merges rows (the T18d artifact)",
      "text_unigram_token_ids" -> "unigram vocabulary id table: <= vocabSize rows by the prune budget (Unigram.train contract — the text_bpe_token_ids bound)",
      "text_bpe_token_ids_bytes" -> "serving vocabulary + byte floor: |alphabet| + merges + <=36 rows; max-id frame: 1-row agg",
      "ann_ivfpq_rerank_manifold" -> "PQ codebooks + probes + shortlist: codewords / |Q| x nprobe / top-n per query",
      "ann_ivfpq_residual_manifold" -> "residual codebooks + normalized centroids + probes + per-(query,cell) tables: all codeword/|Q|-bounded",
      "ann_ivfpq_residual_rerank_manifold" -> "residual codebooks + centroids + probes + tables + TakeOrdered shortlist + |Q| query side: all codeword/|Q|-bounded",
      "ann_ivf_nprobe_curve" -> "query + centroid sides: literal vec_id filters (3 settings over one shared truth)",
      "ann_ivf_ncells_curve" -> "query + centroid sides: literal vec_id filters (3 cell sets over one shared truth)",
      "ann_ivf_cells_trained" -> "centroids: k-row checkpointed kmeans output (8/16 cells) + literal seed/query filters",
      "ann_ivfpq_residual_lloyd_manifold" -> "residual codebooks (Lloyd checkpoints) + centroids + probes + per-(query,cell) tables: codeword/|Q|-bounded",
      "ann_kmeans" -> "centroid table: k rows (checkpointed Lloyd output)",
      "dedup_semdedup" -> "centroids: max(16, floor(sqrt(N)))-row checkpointed kmeans output — k*dim values, the ann_ivf_cells_trained bound at the N^1.5 balance point",
      "ann_dim_recall_curve" -> "query side: literal vec_id filter (10 vectors) in each of the five slice arms; shared truth: |Q| x k <= 100 rows (checkpoint-cut TakeOrdered output)",
      "dedup_incr_embed" -> "batch-side signatures: incremental-batch contract (batch << corpus)",
      "dedup_decontam_sem" -> "eval-side band index: eval-benchmark cardinality by contract (the dedup_decontaminate bound applied to embeddings)",
      "privacy_k_anonymize" -> "class-size join-back: quasi-identifier equivalence-class cardinality (enum-domain product, the sample_mixture bound)",
      "dedup_decontaminate" -> "eval-set grams: eval benchmark cardinality by contract",
      "mm_phash_pairs" -> "hot-bucket cap frame: aggregate of over-cap buckets (cap contract)",
      "pipeline_rag_search" -> "query side: literal query rows",
      "pipeline_pretrain_prep" -> "eval grams (eval-set contract) + per-source stats (enum domain)",
      "pipeline_pretrain_prep_bpe" -> "same frames as pipeline_pretrain_prep (shared stage builder); BPE merges array is a 1-row agg",
      "pipeline_pretrain_prep_substr" -> "same frames as pipeline_pretrain_prep (shared stage builder over the span-cut corpus)",
      "pipeline_pretrain_prep_lm" -> "same frames as pipeline_pretrain_prep (shared stage builder); the LM totals and tertile fences are 1-row aggs (the lmHeldOutFilter contract)",
      "pipeline_ep2" -> "pendentes dim keys: week-snapshot key sets (weekly batch contract)",
      "compat_report" -> "dim key sets: product-dimension cardinality (J2 contract)",
      "u1_s5_union_semanas" -> "weekly snapshot key sets (weekly batch contract)",
      "u_delta_semanas" -> "weekly snapshot key sets (weekly batch contract)",
      "j_fuzzy_names" -> "right side: customer-name dim (client-cardinality contract, W1-W4 story)",
      "j3_left_join_dedup" -> "right side deduped to one row per cliente (client-cardinality contract)",
      "text_phrase_search" -> "phrase postings: one row per phrase term (literal phrase)",
      "text_tfidf" -> "corpus doc-count: 1-row agg (plus df frame at vocab cardinality)",
      "text_lm_score" -> "LM totals: 1-row aggregates over term tables",
      "text_lm2_score" -> "LM totals: 1-row aggregates over term tables",
      "text_hybrid_rrf" -> "dense query side: literal vec_id isin filter (3 vectors, the ann_cosine_topk bound); bm25 term frames ride the literal query table",
      "text_lr_classifier" -> "LR weight vector: <= 64 rows by construction (md5 pmod the literal bucket space — the sample_dsir bound)",
      "text_lr_auc" -> "same LR weight vector as text_lr_classifier (shared lrTrain builder)",
      "text_lr_capacity_curve" -> "three LR weight vectors: <= 16/64/256 rows by md5-pmod construction (the text_lr_classifier bound per arm)",
      "text_lr_calibration" -> "same LR weight vector as text_lr_classifier (shared lrTrain builder)",
      "text_langid_trained" -> "class totals x priors frame: one row per language label (5-value enum domain — the sample_balanced bound)",
      "text_topk_cms" -> "the CMS count matrix: <= depth x width = 3 x 64 = 192 rows by md5-pmod construction regardless of input size (the text_lr_classifier bound) — being a tiny fixed-size summary is the sketch's entire point",
      "events_cms_reuse" -> "the range-merged CMS matrix: <= depth x width = 3 x 64 = 192 rows by md5-pmod construction regardless of how many daily sketches merged in (the text_topk_cms bound — the merge is a groupBy on (d, b), whose domain the literals fix)")
    val offenders = builtQueries.flatMap { case (name, df) =>
      if (ok.contains(name)) None
      else {
        val bad = df.queryExecution.analyzed.collect {
          case h: ResolvedHint if !bounded(h.child) && touchesFactOrUnknown(h.child) =>
            h.child.nodeName
        }
        if (bad.nonEmpty) Some(s"$name -> ${bad.distinct.mkString(",")}") else None
      }
    }
    assert(offenders.isEmpty,
      s"forced broadcast of a non-literal-bounded frame (whitelist ONLY with a cardinality argument): $offenders")
  }

  test("driver contract: every oracle names a registered query; names unique") {
    // The driver resolves oracleSql keys against queries — a typo'd or
    // stale oracle key would silently become an orphan check. A query
    // WITHOUT an oracle is legal (rows-only check), but must stay the
    // documented exception list, not silent drift.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).mkString(", ")}")
    // Round 11: the last two rows-only queries adopted the A16
    // error-bound contract (exact values + envelope booleans), so the
    // exception list is now EMPTY — every registered query carries an
    // oracle.
    assert((q -- o).isEmpty,
      s"unexpected rows-only queries: ${(q -- o).mkString(", ")}")
  }

  test("fact-view scans prune columns and push predicates") {
    val p = plan("f4_date_between")
    assert(p.contains("PushedFilters: [IsNotNull"), "pushdown reaches the scans")
    // lineitem scan must not read all 16 columns for this 5-column query
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(_.split(",").length <= 8),
      s"a scan reads too many columns: $readSchemas")
  }

  test("category-dim join broadcasts the dim side (J2)") {
    val p = plan("j2_left_join_dim")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("cosineFast (codegen Expression) matches the HOF cosine bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val vecs = Seq(
      (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
      (Seq(0f, 0f, 0f), Seq(1f, 1f, 1f)),           // zero vector -> 0.0
      (Seq(-1.5f, 2.25f, 0.125f), Seq(3.5f, -0.75f, 9f)),
      (Seq(1e-30f, 1e30f, 1f), Seq(1e30f, 1e-30f, 1f))).toDF("a", "b")
    val rows = vecs.select(
      VectorFunctions.cosine(col("a"), col("b")).as("hof"),
      VectorFunctions.cosineFast(col("a"), col("b")).as("gen"))
      .as[(Double, Double)].collect()
    rows.foreach { case (hof, gen) => assert(hof == gen, s"$hof != $gen") }

    // mismatched lengths: both paths yield null
    val mism = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b")).as("hof"),
        VectorFunctions.cosineFast(col("a"), col("b")).as("gen"))
      .as[(Option[Double], Option[Double])].head()
    assert(mism == ((None, None)))
  }

  test("graft_cosine is callable from SQL after registration") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    Seq((Seq(1f, 0f), Seq(1f, 0f))).toDF("a", "b").createOrReplaceTempView("v_cos")
    val r = spark.sql("SELECT graft_cosine(a, b) AS c FROM v_cos").as[Double].head()
    assert(r == 1.0)
  }

  test("graft.load.repartition spreads single-row-group scans; default load is shuffle-free") {
    // Round-5 root cause #1: the test parquet is one row group per
    // file, so every scan yields ONE non-empty partition and nothing
    // downstream of a broadcast-join pipeline ever re-spreads — the
    // bench sets graft.load.repartition = cores to model a warm
    // cluster. Pin both sides of the contract: the conf really spreads,
    // and the default (real multi-row-group deployments) adds no
    // gratuitous exchange.
    val old = spark.conf.getOption("graft.load.repartition")
    try {
      spark.conf.set("graft.load.repartition", "4")
      val n = graft.sources.Tables.lineitem(spark, dir).rdd.getNumPartitions
      assert(n == 4, s"spread produced $n partitions, expected 4")
      spark.conf.set("graft.load.repartition", "0")
      val p = graft.sources.Tables.lineitem(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"default load must not shuffle: ${p.take(300)}")
    } finally spark.conf.set("graft.load.repartition", old.getOrElse("0"))
  }

  test("a9 history family aggregates on the object-hash path (no sort aggregate)") {
    // Round-5 root cause #2: ObjectHashAggregate's 128-key default
    // fallback sent every history task through an
    // UnsafeKVExternalSorter (measured 179 s GC + 390 s CPU on one
    // stage); GraftSession raises the threshold to 64k. The planner
    // choice pinned here is the precondition: collect_list must plan
    // as ObjectHashAggregate — a SortAggregate node would mean the
    // hash path was lost entirely (e.g. the conf or the aggregate
    // expression changed shape).
    for (q <- Seq("a9_historico", "a9_capped_history", "a10_c10_collapse_uniform")) {
      val p = plan(q)
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost the object-hash aggregate path:\n${p.take(600)}")
      assert(!p.contains("SortAggregate"),
        s"$q plans a sort aggregate:\n${p.take(600)}")
    }
  }

  test("iterative loops keep the final plan iteration-count-independent (lineage cut)") {
    // Round-5 root cause #3: plans that grow per iteration make every
    // downstream tree traversal (and Spark's eager plan-description
    // rendering) super-linear. kmeansFit and dedupClusters checkpoint
    // each round, so the FINAL plan must be a flat checkpoint scan
    // whose size does not track the iteration count.
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      .filter(col("vec").isNotNull)
    val init = emb.limit(3).select(col("id").as("c_id"), col("vec").as("c_vec"))
    def fitPlanLen(iters: Int): Int = graft.operators.Similarity
      .kmeansFit(emb, init, "id", "vec", iters)
      .queryExecution.executedPlan.toString.length
    val f2 = fitPlanLen(2)
    val f5 = fitPlanLen(5)
    assert(f2 < 2000 && f5 < 2000, s"kmeansFit plan is not a flat scan: $f2 / $f5 chars")
    assert(math.abs(f5 - f2) < 200, s"kmeansFit plan grows with iterations: $f2 -> $f5")

    // dedupClusters: force the generic iterative path (threshold 0) on
    // chains needing different label-propagation round counts.
    val oldThr = spark.conf.getOption("graft.dedup.smallEdgeThreshold")
    try {
      spark.conf.set("graft.dedup.smallEdgeThreshold", "0")
      import spark.implicits._
      def ccPlanLen(chainLen: Int): Int = {
        val pairs = (1L until chainLen)
          .map(i => (i, i + 1)).toDF("id_a", "id_b")
        graft.operators.Dedup.dedupClusters(pairs)
          .queryExecution.executedPlan.toString.length
      }
      val c3 = ccPlanLen(3)
      val c9 = ccPlanLen(9)
      assert(c3 < 2000 && c9 < 2000, s"dedupClusters plan is not a flat scan: $c3 / $c9")
      assert(math.abs(c9 - c3) < 200, s"dedupClusters plan grows with rounds: $c3 -> $c9")
    } finally oldThr match {
      case Some(v) => spark.conf.set("graft.dedup.smallEdgeThreshold", v)
      case None => spark.conf.unset("graft.dedup.smallEdgeThreshold")
    }
  }

  test("text_trending_topk cuts per-window via the bounded k-heap, not a window sort") {
    val p = plan("text_trending_topk")
    assert(p.contains("partial_collect_top_k"),
      "per-window cut lost map-side bounded partials:\n" + p.take(800))
    assert(!p.contains("Window"), "per-window ranking reverted to a window sort:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("dedup_decontaminate broadcasts the eval side; corpus side stays one scan") {
    val p = plan("dedup_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "eval-gram side lost its broadcast (corpus would shuffle on gram):\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  /** Build a registered query and record what its construction ran:
    * the eager actions' (name, optimized plan) — cuts included, whose
    * plans the built frame no longer shows — plus the built frame's own
    * optimized plan, and the number of jobs run as `Par` arms. A
    * sentinel action flushes the async listener bus: its events queue
    * behind every event of the build.
    */
  private def construction(name: String)
      : (Seq[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)], Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]()
    val parJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "__plan_sentinel")) sentinelSeen.countDown()
        else actions.add((funcName, qe.optimizedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    val jobs = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
          js.properties.getProperty("spark.job.description") == "graft.Par arm") parJobs.incrementAndGet()
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      spark.range(1).toDF("__plan_sentinel").collect()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the sentinel")
      import scala.jdk.CollectionConverters._
      (actions.asScala.toSeq :+ (("built", df.queryExecution.optimizedPlan)), parJobs.get())
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(qel)
    }
  }

  test("word-gram builders tokenize once: no StringSplit inside a lambda body") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    // wordShingles slices its token array inside an (interpreted)
    // transform lambda: an inline split there re-tokenizes the whole
    // document once per gram.
    for (q <- Seq("dedup_decontaminate", "dedup_decontam_curve", "dedup_prefix_join",
        "pipeline_pretrain_prep")) {
      val (plans, _) = construction(q)
      if (q == "dedup_prefix_join") // it tokenizes inside its eager cut
        assert(plans.exists(_._1 != "built"), "the prefix join's cut plan was not captured")
      val resplits = plans.flatMap { case (action, p) =>
        p.collectWithSubqueries { case node =>
          node.expressions.flatMap(_.collect {
            case l: LambdaFunction if l.function.exists(_.isInstanceOf[StringSplit]) =>
              s"$action: ${l.toString.take(200)}"
          })
        }.flatten
      }
      assert(resplits.isEmpty, s"$q re-splits text per lambda call:\n${resplits.mkString("\n")}")
    }
  }

  test("dedup_decontam_curve: one cut for all orders, no Par arms") {
    val (plans, parJobs) = construction("dedup_decontam_curve")
    val cuts = plans.count { case (action, _) => action.toLowerCase.contains("checkpoint") }
    assert((cuts, parJobs) == ((1, 0)),
      s"(cuts, Par arm jobs): expected one cut and no Par arm; actions ${plans.map(_._1)}")
  }

  test("text_redact_pii is a pure codegen projection: no shuffle at all") {
    val exec = SparkEntry.queries("text_redact_pii")(spark, dir).queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("Exchange"), "redaction must not shuffle:\n" + p.take(600))
    // Under explainMode=simple codegen stages print as `*(n)`, not the
    // literal "WholeStageCodegen" — inspect the plan tree directly.
    val codegend = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegend.nonEmpty, "projection fell out of whole-stage codegen:\n" + p.take(400))
  }

  test("text_dup_spans: two hash aggregates, no window, no join at all") {
    val p = plan("text_dup_spans")
    assert(p.contains("HashAggregate"), p.take(600))
    assert(!p.contains("Window"), "span counting must not window-sort:\n" + p.take(600))
    assert(!p.contains("Join"), "detection is pure aggregation — no join:\n" + p.take(600))
  }

  test("text_dup_span_frac: hash-key join only, no cartesian, no window") {
    val p = plan("text_dup_span_frac")
    assert(!p.contains("Window"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("text_chunks is a pure narrow projection: no shuffle, no join, codegen'd") {
    val exec = SparkEntry.queries("text_chunks")(spark, dir).queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("Exchange"), "chunking must not shuffle:\n" + p.take(600))
    assert(!p.contains("Join"), "chunking is per-row array work — no join:\n" + p.take(400))
    val codegend = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegend.nonEmpty, "chunking fell out of whole-stage codegen:\n" + p.take(400))
  }

  test("text_lm_score: hash aggregates + term join, no window, no cartesian") {
    val p = plan("text_lm_score")
    assert(p.contains("HashAggregate"), p.take(600))
    assert(!p.contains("Window"), "LM scoring must not window-sort:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    // The 1-row totals frame rides a broadcast, never a shuffle join.
    assert(p.contains("Broadcast"), "totals must broadcast:\n" + p.take(600))
  }

  test("sample_mixture: fence frame broadcasts back; corpus side never windows") {
    val p = plan("sample_mixture")
    assert(p.contains("BroadcastHashJoin"), "fences must broadcast:\n" + p.take(600))
    assert(!p.contains("Window"), "no window over the corpus:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "corpus must not shuffle for the fence join:\n" + p.take(600))
  }

  test("pipeline_chunk_prep: canonical pick is an aggregate, membership a hash join — no window") {
    val p = plan("pipeline_chunk_prep")
    assert(p.contains("HashAggregate"), p.take(600))
    assert(!p.contains("Window"),
      "canonical-chunk pick must be min(struct), not a window sort:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("events_gaps: lag window partitioned by user, never a global window") {
    val p = plan("events_gaps")
    assert(p.contains("Window"), p.take(400))
    // A Window node whose partition spec is empty would print
    // "windowspecdefinition(ts_us" (no partition column before the
    // order columns) — the per-user spec must lead with user_id.
    assert(p.contains("windowspecdefinition(user_id"),
      "lag must partition by user_id:\n" + p.take(800))
  }

  test("events_funnel: one fold aggregate on user_id — no join, no per-event window") {
    val p = plan("events_funnel")
    // The heavy path is the per-user sorted-list fold: an (Object)Hash
    // aggregate keyed on user_id. A k-step funnel written as k
    // self-joins would print SortMergeJoin/BroadcastHashJoin here.
    assert(p.contains("Aggregate"), p.take(600))
    assert(!p.contains("Join"),
      "funnel must fold per user, not self-join per step:\n" + p.take(800))
    assert(!p.contains("Window"),
      "stage times come from the fold, not per-event windows:\n" + p.take(800))
  }

  test("events_retention: distinct-first plan — no Expand, no count-distinct node") {
    // Users are counted as ROWS of the distinct (user, week) frame;
    // a count(DISTINCT user_id) formulation would print an Expand node
    // and shuffle the pre-distinct event cardinality twice.
    val p = plan("events_retention")
    assert(!p.contains("Expand"),
      "retention must count rows of the distinct frame:\n" + p.take(800))
    assert(!p.contains("Window"), p.take(400))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("ann_int8_rerank: shortlist re-attach broadcasts; corpus never window-sorts") {
    val p = plan("ann_int8_rerank")
    assert(p.contains("BroadcastHashJoin"),
      "stage-2 vector re-attach must broadcast the shortlist side:\n" + p.take(800))
    assert(!p.contains("Window"), p.take(400))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("dedup_bloom_prefilter: bloom rides a scalar subquery; definite-new arm skips the join") {
    val p = plan("dedup_bloom_prefilter")
    assert(p.contains("might_contain"),
      "bloom predicate must appear in the batch filters:\n" + p.take(1200))
    assert(p.contains("Union"),
      "definitely-new and verified-new arms must union:\n" + p.take(800))
    // The exact verify must still be the hash anti-join (no BNLJ/cartesian).
    assert(p.contains("LeftAnti"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("pipeline_source_report: cascaded distinct (no Expand), no corpus window") {
    val p = plan("pipeline_source_report")
    assert(!p.contains("Expand"),
      "dup-rate must cascade (source, fp) -> source, not count(DISTINCT):\n" + p.take(800))
    assert(!p.contains("Window"), p.take(400))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("pipeline_pretrain_prep (ws + BPE variants) compose under one pass: no cartesian, no corpus window") {
    for (q <- Seq("pipeline_pretrain_prep", "pipeline_pretrain_prep_bpe",
        "pipeline_pretrain_prep_lm")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(600))
      // The BPE variant legitimately carries exactly ONE nested-loop
      // join: the 1-row merges array riding a broadcast cross join
      // (the ANN family's 1-row-frame shape). The LM variant's
      // stage-1-4 chain and LM scoring sit behind checkpoint cuts
      // (their shapes are pinned by pipeline_pretrain_prep here and
      // by text_lm_heldout_filter's own oracle), so its VISIBLE plan
      // is the pack tail plus the fence fan-out — at most one 1-row
      // nested-loop join. Anything more would be a real pair blowup.
      val bnljCap = q match {
        case "pipeline_pretrain_prep" => 0
        case _ => 1
      }
      val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnlj <= bnljCap, s"$q: $bnlj nested-loop joins (cap $bnljCap):\n" + p.take(800))
      // The decontamination gram join must broadcast the (small) eval
      // side. In the LM variant that join is inside the clean-frame
      // checkpoint (same builder as pipeline_pretrain_prep, whose
      // entry in this loop pins it), so the assertion applies to the
      // uncut variants.
      if (q != "pipeline_pretrain_prep_lm")
        assert(p.contains("BroadcastHashJoin"), s"$q:\n" + p.take(800))
      // The only Window is the packing fold's input ordering inside the
      // bucket aggregate — there must be NO window partitioned by the
      // whole corpus (fp-dedup is a min_by aggregate, not row_number).
      assert(!p.contains("windowspecdefinition(fp"),
        s"$q: fingerprint dedup must be an aggregate, not a window:\n" + p.take(800))
    }
  }

  test("u3_upsert_events: union + one aggregate — no join anywhere") {
    val p = plan("u3_upsert_events")
    assert(p.contains("Union"), p.take(400))
    assert(!p.contains("Join"),
      "upsert must fold via max_by, not join base to updates:\n" + p.take(800))
    assert(!p.contains("Window"), p.take(400))
  }

  test("events_twap: lead window keyed by user, single aggregate after") {
    val p = plan("events_twap")
    assert(p.contains("windowspecdefinition(user_id"),
      "lead must partition by user_id:\n" + p.take(800))
    assert(!p.contains("Join"), p.take(400))
  }

  test("a19_corr_geo / a21_ols_geo: one aggregate pass, no window, no join beyond the fact view") {
    for (q <- Seq("a19_corr_geo", "a21_ols_geo")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q:\n" + p.take(400))
      // the fact view itself joins; the moments must not add more:
      // count the Aggregate above the view — exactly one shuffle keyed on uf
      assert(p.contains("HashAggregate"), s"$q:\n" + p.take(400))
    }
  }

  test("c_mad_trim: both stat frames broadcast back; no corpus-wide window") {
    val p = plan("c_mad_trim")
    assert(p.contains("BroadcastHashJoin"), "stats must broadcast:\n" + p.take(600))
    assert(!p.contains("Window"), "percentile aggregates, not window sorts:\n" + p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "the fact side must not shuffle for stat joins:\n" + p.take(600))
  }

  test("ann_ivf_int8: cell equi-join carries int8 codes, no corpus window sort") {
    val p = plan("ann_ivf_int8")
    assert(!p.contains("Window"),
      "top-k must stay on the bounded k-heap:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("ObjectHashAggregate"),
      "k-heap aggregate lost the object-hash path:\n" + p.take(600))
  }

  test("ann_int8_recall: quantized search broadcasts queries, no corpus window sort") {
    val p = plan("ann_int8_recall")
    assert(p.contains("Broadcast"), "query side must broadcast:\n" + p.take(600))
    assert(!p.contains("Window"),
      "top-k must stay on the bounded k-heap, not a window sort:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("ObjectHashAggregate"),
      "k-heap aggregate lost the object-hash path:\n" + p.take(600))
  }

  test("text_pack_sequences: one bucket aggregation, no window, no cartesian") {
    val p = plan("text_pack_sequences")
    assert(p.contains("ObjectHashAggregate"),
      "bucket collect lost the object-hash path:\n" + p.take(600))
    assert(!p.contains("Window"), "packing must not window-sort the corpus:\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("pipeline_ep2 composes in one pass: broadcast dim, hash-path history, no cartesian") {
    val p = plan("pipeline_ep2")
    assert(p.contains("BroadcastHashJoin"), "category dim lost its broadcast:\n" + p.take(800))
    assert(p.contains("ObjectHashAggregate"), "history lost the hash aggregate:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("joinAbc carries no forced broadcast hint; joinCategorias does (by design)") {
    import spark.implicits._
    val fact = Seq(("c1", "p1", 1.0)).toDF("cliente", "codigo_produto", "v")
    val abc = Seq(("c1", "A")).toDF("cliente", "abc")
    val dim = Seq(("p1", "n", "g", "s")).toDF("codigo_produto", "negocio", "grupo", "subgrupo")
    // client-cardinality side: AQE decides (no hint in the logical plan)
    assert(!operators.Enrich.joinAbc(fact, abc)
      .queryExecution.logical.toString.toLowerCase.contains("hint"))
    // dimension side: explicit broadcast is intended
    assert(operators.Enrich.joinCategorias(fact, dim)
      .queryExecution.logical.toString.toLowerCase.contains("hint"))
  }

  test("folded stream entries: one source watermark, 1-2 streaming aggregates; batch bodies none") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark, Join}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Bpe, Dedup, DocGrouping, Sampling, Similarity, TextAnalysis}
    import graft.streaming.StreamingOps
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val text = MemoryStream[(Long, java.sql.Timestamp, String)].toDF.toDF("doc_id", "ts", "text")
    val vecs = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])].toDF.toDF("vec_id", "ts", "embedding")
    val qs = MemoryStream[(Long, java.sql.Timestamp, Seq[String])].toDF.toDF("query_id", "ts", "terms")
    val feats = MemoryStream[(Long, java.sql.Timestamp)].toDF.toDF("n_chars", "ts")
    // Static artifacts: hand-built frames with the served schemas.
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val lm = Seq(("a", "b", 1L)).toDF("w1", "w2", "c")
    val fences = Seq((-1.0, -0.5)).toDF("t_low", "t_high")
    val nb = Seq(("a", 1L, 0L)).toDF("w", "c_pos", "c_neg")
    val priors = Seq(Tuple1(0L)).toDF("prior_u")
    val lr = Seq((0L, 1L)).toDF("b", "w_u")
    val llr = Seq((0L, 1L)).toDF("b", "llr_u")
    val bm25 = Seq(("a", 1L, 1L, 5L)).toDF("term", "doc_id", "tf", "contrib_u")
    val ranks = Seq(("a", 1L)).toDF("term", "rank_u")
    val merges = Seq((1, "a", "b")).toDF("merge_rank", "lhs", "rhs")
    val vocab = Seq(("ab", 1)).toDF("token", "token_id")
    val emb = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("c_id", "c_vec")
    val members = Seq((1L, 0L, Seq(1.0, 0.0))).toDF("id", "cell", "vec")
    val lineIdx = Seq("x").toDF("line_fp")
    val gramIdx = Seq("x").toDF("fp")
    val psiFences = Seq(Tuple1(Seq(100L))).toDF("fences")
    val psiRef = Seq((0, 1L), (1, 1L)).toDF("bin", "n_ref")
    val S = StreamingOps
    // (entry, frame, streaming aggregates): 1 for the scorers, 2 for
    // the chained top-k entries and the PSI monitor.
    val folded: Seq[(String, DataFrame, Int)] = Seq(
      ("lmScoreStream", S.lmScoreStream(text, "doc_id", "text", "ts", lm, fences), 1),
      ("nbScoreStream", S.nbScoreStream(text, "doc_id", "text", "ts", nb, priors), 1),
      ("lrScoreStream", S.lrScoreStream(text, "doc_id", "text", "ts", lr, 4), 1),
      ("dsirScoreStream", S.dsirScoreStream(text, "doc_id", "text", "ts", llr, 4), 1),
      ("bpeEncodeStream", S.bpeEncodeStream(text, "doc_id", "text", "ts", merges), 1),
      ("bpeEncodeIdsStream",
        S.bpeEncodeIdsStream(text, "doc_id", "text", "ts", merges, vocab), 1),
      ("bpeEncodeIdsBytesStream",
        S.bpeEncodeIdsBytesStream(text, "doc_id", "text", "ts", merges, vocab), 1),
      ("ivfTopKStream",
        S.ivfTopKStream(vecs, emb, cents, "vec_id", "embedding", "ts", 2, 1), 1),
      ("semDedupStream",
        S.semDedupStream(vecs, "vec_id", "embedding", "ts", cents, members, 0.9), 1),
      ("lineBoilerStream", S.lineBoilerStream(text, "doc_id", "text", "ts", lineIdx), 1),
      ("exactSubstrStream", S.exactSubstrStream(text, "doc_id", "text", "ts", gramIdx, 2), 1),
      ("bm25TopKStream", S.bm25TopKStream(qs, "query_id", "terms", "ts", bm25, 3), 2),
      ("keywordsStream", S.keywordsStream(text, "doc_id", "text", "ts", ranks), 2),
      ("psiDriftStream", S.psiDriftStream(feats, "n_chars", "ts", psiFences, psiRef), 2))
    folded.foreach { case (name, df, aggs) =>
      val p = df.queryExecution.analyzed
      val marks = p.collect { case w: EventTimeWatermark => w }.size
      val stateful = p.collect { case a: Aggregate if a.isStreaming => a }.size
      val ssJoins = p.collect { case j: Join if j.left.isStreaming && j.right.isStreaming => j }.size
      assert(df.isStreaming && marks == 1 && stateful == aggs && ssJoins == 0,
        s"$name: $marks watermarks, $stateful streaming aggregates (want 1, $aggs), " +
          s"$ssJoins stream-stream joins\n$p")
    }
    // The same bodies grouped by document stay plain batch plans.
    val byDoc = DocGrouping.ByDoc
    val batch: Seq[(String, DataFrame)] = Seq(
      ("lmScored", TextAnalysis.lmScored(lm, docs, "doc_id", "text", byDoc)),
      ("nbScore", TextAnalysis.nbScore(nb, priors, docs, "doc_id", "text")),
      ("lrScore", TextAnalysis.lrScore(lr, docs, "doc_id", "text", 4)),
      ("dsirLogW", Sampling.dsirLogW(byDoc.counts(Sampling.dsirBigrams(docs, "doc_id", "text", 4),
        $"doc_id", $"b"), llr, byDoc)),
      ("encodeCounts", Bpe.encodeCounts(docs, "doc_id", "text", merges)),
      ("encodeIds", Bpe.encodeIds(docs, "doc_id", "text", merges, vocab)),
      ("encodeIdsBytes", Bpe.encodeIdsBytes(docs, "doc_id", "text", merges, vocab)),
      ("ivfTopKProbed", Similarity.ivfTopKProbed(emb, emb, cents, "vec_id", "embedding", 2, 1)),
      ("semDedupCorpusPairs", Dedup.semDedupCorpusPairs(members, members, 0.9, byDoc)),
      ("removeBoilerplateLines", TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", 2)),
      ("exactSubstrAgainstCorpus",
        Dedup.exactSubstrAgainstCorpus(docs, docs, "doc_id", "text", 2)),
      ("bm25TopKFromIndex", TextAnalysis.bm25TopKFromIndex(bm25,
        Seq((1L, "a")).toDF("query_id", "term"), 3)),
      ("keywordsBy", TextAnalysis.keywordsBy(docs, "doc_id", "text", ranks, 3, byDoc)))
    batch.foreach { case (name, df) =>
      val p = df.queryExecution.analyzed
      assert(!df.isStreaming && p.collect { case w: EventTimeWatermark => w }.isEmpty,
        s"$name grouped by document carries a watermark:\n$p")
    }
  }
}
