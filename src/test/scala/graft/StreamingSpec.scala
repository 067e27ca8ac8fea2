package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pendentesStream unions weekly snapshot files with provenance tag (S5/U1 streaming)") {
    val dir = tempDir("graft_stream")
    val week1 = Seq(("PENDENTE", 10.0), ("GANHO", 99.0), ("PENDENTE", 20.0))
      .toDF("status_processo", "valor_proposta")
    val week2 = Seq(("PENDENTE", 30.0), ("PERDIDO", 1.0))
      .toDF("status_processo", "valor_proposta")
    week1.coalesce(1).write.parquet(s"$dir/in/semana_1.parquet")
    week2.coalesce(1).write.parquet(s"$dir/in/semana_2.parquet")

    val stream = StreamingOps.pendentesStream(spark, s"$dir/in/*", week1.schema)
    val q = stream.writeStream.format("memory").queryName("pendentes_test")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("pendentes_test")
      .select("status_processo", "valor_proposta", "semana").collect()
    assert(out.length == 3)
    assert(out.forall(_.getString(0) == "PENDENTE"))
    val byWeek = out.groupBy(_.getString(2)).view.mapValues(_.map(_.getDouble(1)).sorted.toSeq).toMap
    assert(byWeek.keySet.map(_.takeWhile(_ != '.')) == Set("semana_1", "semana_2"))
    assert(byWeek.values.toSet == Set(Seq(10.0, 20.0), Seq(30.0)))
  }

  test("eventCounts: watermarked window aggregation over a memory stream") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val dir = tempDir("graft_stream2")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    ms.addData((ts(5), "click", 1.0), (ts(10), "click", 2.0), (ts(20), "view", 5.0))

    val counts = StreamingOps.eventCounts(
      ms.toDF.toDF("ts", "event_type", "value"), windowLen = "30 minutes")
    val q = counts.writeStream.format("memory").queryName("counts_test")
      .outputMode("complete").option("checkpointLocation", s"$dir/ckpt").start()
    try { q.processAllAvailable() } finally q.stop()

    assert(spark.table("counts_test").count() == 2)
    val rows = spark.table("counts_test")
      .select("event_type", "n_events", "sum_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("trendingTerms counts tokens per window with batch-parity tokenization") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val dir = tempDir("graft_stream_tt")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    ms.addData(
      (ts(5), "Spark spark  runs"),   // double space + case: one 'spark' x2
      (ts(10), "spark wins"),
      (ts(40), "later window"))       // lands in the 10:30 window

    val terms = StreamingOps.trendingTerms(
      ms.toDF.toDF("ts", "text"), windowLen = "30 minutes")
    val q = terms.writeStream.format("memory").queryName("trending_test")
      .outputMode("complete").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    val rows = spark.table("trending_test")
      .select(col("window.start").cast("string"), col("term"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00", "spark", 3L),
      ("2024-01-01 10:00:00", "runs", 1L),
      ("2024-01-01 10:00:00", "wins", 1L),
      ("2024-01-01 10:30:00", "later", 1L),
      ("2024-01-01 10:30:00", "window", 1L)))
  }

  test("trendingTopK batch finisher ranks the stream's completed windows (D13 loop closed)") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val dir = tempDir("graft_stream_ttk")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val data = Seq(
      (ts(5), "spark spark runs"),
      (ts(10), "spark wins wins"),
      (ts(40), "later window window"))
    ms.addData(data: _*)

    val terms = StreamingOps.trendingTerms(
      ms.toDF.toDF("ts", "text"), windowLen = "30 minutes")
    val q = terms.writeStream.format("memory").queryName("ttk_counts")
      .outputMode("complete").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    // The finisher consumes the stream's output contract directly —
    // windowCol is the streaming `window` STRUCT, no reshaping.
    val streamTop = graft.operators.TextAnalysis
      .trendingTopK(spark.table("ttk_counts"), "window", "term", "n", k = 2)
      .select(col("window.start").cast("string"), col("term"), col("n"))
      .as[(String, String, Long)].collect().toSet
    // w1 counts: spark 3, wins 2, runs 1 -> top2 (spark, wins);
    // w2 counts: window 2, later 1 -> top2 is both.
    assert(streamTop == Set(
      ("2024-01-01 10:00:00", "spark", 3L),
      ("2024-01-01 10:00:00", "wins", 2L),
      ("2024-01-01 10:30:00", "window", 2L),
      ("2024-01-01 10:30:00", "later", 1L)))

    // Batch backfill parity: the SAME rows through the batch
    // tokenize/window/count shape + the same finisher must agree with
    // the streaming counts exactly (the D13 contract: a batch replay
    // over the raw stream reproduces the windowed ranking).
    val batchCounts = data.toDF("ts", "text")
      .select(window(col("ts"), "30 minutes").as("window"),
        explode(graft.operators.TextAnalysis.tokens(
          lower(coalesce(col("text"), lit(""))))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("window", "term").agg(count(lit(1)).as("n"))
    val batchTop = graft.operators.TextAnalysis
      .trendingTopK(batchCounts, "window", "term", "n", k = 2)
      .select(col("window.start").cast("string"), col("term"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(batchTop == streamTop, "batch backfill diverged from the streaming ranking")
  }

  test("chunkDocs is stream-composable: stateless narrow op, batch parity (T11 streaming)") {
    // chunkDocs is pure per-row array work (no agg, no window), so it
    // applies to a streaming frame unchanged — the batch/stream parity
    // that makes the chunking stage reusable in an ingest stream.
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val dir = tempDir("graft_stream_chunk")
    val docs = Seq((1L, (1 to 45).map(i => s"t$i").mkString(" ")), (2L, "a b c"))
    ms.addData(docs: _*)
    val chunked = graft.operators.TextAnalysis.chunkDocs(
      ms.toDF.toDF("doc_id", "text"), "doc_id", "text",
      chunkTokens = 40, stride = 20)
    val q = chunked.writeStream.format("memory").queryName("chunk_test")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("chunk_test").collect().toSet
    val batch = graft.operators.TextAnalysis.chunkDocs(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      chunkTokens = 40, stride = 20).collect().toSet
    assert(streamed == batch && batch.size == 3)
  }

  test("bpeEncodeStream: batch-trained map encodes a doc stream with batch parity (T18 streaming)") {
    implicit val sql = spark.sqlContext
    val trainDocs = Seq(
      (9L, "low low low low low lower lower newest newest newest newest newest newest widest widest widest"))
      .toDF("doc_id", "text")
    val (mergeTable, _) = graft.operators.Bpe.train(trainDocs, "text", merges = 3)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // "lowest" is OOV (absent from the training corpus) — the stream
    // must ENCODE it by merge replay, not drop it (round-12 contract).
    val docs = Seq((1L, "low low newest"), (2L, "widest lowest"), (3L, "??? !!!"))
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(docs.map { case (id, t) => (id, t0, t) }: _*)
    val dir = tempDir("graft_stream_bpe")
    val enc = StreamingOps.bpeEncodeStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", mergeTable)
    val q = enc.writeStream.format("memory").queryName("bpe_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    // Update mode re-emits a doc's row when later batches touch it —
    // docs here arrive whole in one batch, so rows are final.
    val streamed = spark.table("bpe_stream_test")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.operators.Bpe.encodeCounts(
        docs.toDF("doc_id", "text"), "doc_id", "text", mergeTable)
      .as[(Long, Long, Long)].collect().filter(_._2 > 0).toSet
    assert(streamed == batch && streamed.size == 2,
      s"stream $streamed vs batch-nonzero $batch")
    // The bounded-state claim is structural: the plan must carry an
    // event-time watermark feeding the stateful aggregate (without it,
    // state grows one row per doc_id ever seen).
    assert(enc.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "bpeEncodeStream lost its watermark — unbounded state")
  }

  test("bpeEncodeIdsStream: token-id sequences with batch parity incl. the UNK path (T18 serving)") {
    implicit val sql = spark.sqlContext
    // Train "aa aa bb" (BpeSpec's hand corpus): merge (a,a); vocab
    // aa -> 1, b -> 2. Stream "cc aa bb": cc is OOV, its replayed
    // symbols [c, c] are outside the vocabulary -> UNK 0,0.
    val trainDocs = Seq((9L, "aa aa bb")).toDF("doc_id", "text")
    val (mergeTable, wordMap) = graft.operators.Bpe.train(trainDocs, "text", merges = 1)
    val vocab = graft.operators.Bpe.vocab(wordMap)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val docs = Seq((1L, "cc aa bb"), (2L, "aa aa"), (3L, "???"))
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(docs.map { case (id, t) => (id, t0, t) }: _*)
    val dir = tempDir("graft_stream_bpe_ids")
    val enc = StreamingOps.bpeEncodeIdsStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", mergeTable, vocab)
    val q = enc.writeStream.format("memory").queryName("bpe_ids_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("bpe_ids_stream_test")
      .as[(Long, Long, String)].collect().toSet
    val batch = graft.operators.Bpe.encodeIds(
        docs.toDF("doc_id", "text"), "doc_id", "text", mergeTable, vocab)
      .as[(Long, Long, String)].collect().filter(_._2 > 0).toSet
    assert(streamed == batch, s"stream $streamed vs batch-nonzero $batch")
    // cc -> [c, c] = UNK 0,0; aa -> [aa] = 1; bb -> [b, b] = 2,2.
    assert(streamed.contains((1L, 5L, "0,0,1,2,2")), s"UNK path: $streamed")
    assert(enc.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "bpeEncodeIdsStream lost its watermark — unbounded state")
  }

  test("bpeEncodeIdsBytesStream: UNK-free byte-fallback serving with batch parity (T18h)") {
    implicit val sql = spark.sqlContext
    // Train "abc abc" (the encodeIdsBytes hand corpus): merges (a,b)
    // then (ab,c); intermediate "ab" vanishes from the vocabulary.
    // Stream "abz": replay -> [ab, z]; "ab" decomposes to bytes 12,13
    // and z resolves via the floor (37) — zero UNK where
    // bpeEncodeIdsStream emits 0s.
    val trainDocs = Seq((9L, "abc abc")).toDF("doc_id", "text")
    val (mergeTable, wordMap) = graft.operators.Bpe.train(trainDocs, "text", merges = 2)
    val vocab = graft.operators.Bpe.vocab(wordMap)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val docs = Seq((1L, "abc abz"), (2L, "zz"), (3L, "???"))
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(docs.map { case (id, t) => (id, t0, t) }: _*)
    val dir = tempDir("graft_stream_bpe_bytes")
    val enc = StreamingOps.bpeEncodeIdsBytesStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", mergeTable, vocab)
    val q = enc.writeStream.format("memory").queryName("bpe_bytes_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("bpe_bytes_stream_test")
      .as[(Long, Long, String)].collect().toSet
    val batch = graft.operators.Bpe.encodeIdsBytes(
        docs.toDF("doc_id", "text"), "doc_id", "text", mergeTable, vocab)
      .as[(Long, Long, String)].collect().filter(_._2 > 0).toSet
    assert(streamed == batch, s"stream $streamed vs batch-nonzero $batch")
    assert(streamed.contains((1L, 4L, "1,12,13,37")), s"byte-fallback path: $streamed")
    assert(streamed.forall(!_._3.split(',').contains("0")), s"UNK leaked: $streamed")
    assert(enc.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "bpeEncodeIdsBytesStream lost its watermark — unbounded state")
  }

  test("lmScoreStream: offline-fit model + frozen fences, row-for-row batch parity (T13c serving)") {
    implicit val sql = spark.sqlContext
    import graft.operators.TextAnalysis
    // The lmHeldOutFilter hand fixture: model c2(a,b)=2, c2(b,a)=2,
    // ctx(a)=ctx(b)=2, V=2; scored docs hit the seen, unseen-pair,
    // and unseen-context paths and land in all three buckets.
    val train = Seq((0L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b x"), (3L, "x y"), (5L, "b a b"), (7L, "solo"))
    val batch = TextAnalysis.lmHeldOutFilter(
      train, docs.toDF("doc_id", "text"), "doc_id", "text")
    val batchRows = batch.as[(Long, Long, Long, Double, String)].collect().toSet
    // The offline-build/online-serve loop: the model artifact and the
    // calibration fences round-trip through saveIndex/loadIndex and
    // the SERVER consumes the loaded frames, not the session's.
    val dir = tempDir("graft_stream_lm")
    graft.sources.Sink.saveIndex(
      TextAnalysis.lmBigramModel(train, "doc_id", "text"),
      s"$dir/model", Map("order" -> "2", "smoothing" -> "add-1"))
    graft.sources.Sink.saveIndex(
      TextAnalysis.lmFences(batch), s"$dir/fences", Map("tertiles" -> "disc"))
    val (model, mParams) = graft.sources.Load.loadIndex(spark, s"$dir/model")
    val (fences, _) = graft.sources.Load.loadIndex(spark, s"$dir/fences")
    assert(mParams("smoothing") == "add-1")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(docs.map { case (id, t) => (id, t0, t) }: _*)
    val scored = StreamingOps.lmScoreStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", model, fences)
    val q = scored.writeStream.format("memory").queryName("lm_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("lm_stream_test")
      .as[(Long, Long, Long, Double, String)].collect().toSet
    // Row-for-row parity including the raw-quotient doubles and the
    // fence buckets (the <2-token doc is absent on both sides).
    assert(streamed == batchRows, s"stream $streamed vs batch $batchRows")
    assert(streamed.map(_._5) == Set("tail", "middle", "head"), s"buckets: $streamed")
    assert(scored.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "lmScoreStream lost its watermark — unbounded state")
  }

  test("nbScoreStream: offline-trained classifier artifacts, row-for-row batch parity incl. OOV floors") {
    implicit val sql = spark.sqlContext
    import graft.operators.TextAnalysis
    // Hand fixture: model a:(3,0) b:(1,1) c:(1,2), V=3, t_pos=5,
    // t_neg=3, priors 2 pos / 1 neg. Scored docs hit a seen
    // class-asymmetric word, a both-classes word, a mixed-OOV doc,
    // and a pure-OOV doc (evidence = prior + identical floors).
    val train = Seq((0L, "a a b", true), (2L, "b c c", false), (4L, "a c", true))
      .toDF("doc_id", "text", "y")
    val docs = Seq((1L, "a a x"), (3L, "c c b"), (5L, "zz"))
    val model = TextAnalysis.nbModel(train, "doc_id", "text", "y")
    val priors = TextAnalysis.nbPriors(train, "y")
    val batch = TextAnalysis.nbScore(model, priors, docs.toDF("doc_id", "text"),
      "doc_id", "text")
    val batchRows = batch.as[(Long, Long, Long, Double, Boolean)].collect().toSet
    assert(batchRows.size == 3)
    assert(batchRows.collect { case (1L, _, _, _, p) => p } == Set(true))
    assert(batchRows.collect { case (3L, _, _, _, p) => p } == Set(false))
    // The offline-build/online-serve loop: model + prior round-trip
    // through saveIndex/loadIndex; the server consumes the LOADED
    // frames.
    val dir = tempDir("graft_stream_nb")
    graft.sources.Sink.saveIndex(model, s"$dir/model",
      Map("family" -> "multinomial-nb", "smoothing" -> "add-1"))
    graft.sources.Sink.saveIndex(priors, s"$dir/priors", Map("kind" -> "log-odds-prior"))
    val (m2, mParams) = graft.sources.Load.loadIndex(spark, s"$dir/model")
    val (p2, _) = graft.sources.Load.loadIndex(spark, s"$dir/priors")
    assert(mParams("family") == "multinomial-nb")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(docs.map { case (id, t) => (id, t0, t) }: _*)
    val scored = StreamingOps.nbScoreStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", m2, p2)
    val q = scored.writeStream.format("memory").queryName("nb_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("nb_stream_test")
      .as[(Long, Long, Long, Double, Boolean)].collect().toSet
    assert(streamed == batchRows, s"stream $streamed vs batch $batchRows")
    assert(scored.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "nbScoreStream lost its watermark — unbounded state")
  }

  test("bm25TopKStream: offline scored-postings index, chained-agg top-k, batch parity (T20c)") {
    implicit val sql = spark.sqlContext
    import graft.operators.TextAnalysis
    // The bm25TopK unit corpus. Query 1 = (a,b), query 2 = (a) —
    // hand-verified contributions in the batch tests; query 3 matches
    // NO posting (absent from both sides, and its arrival still
    // advances the watermark — the source-side watermark contract).
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "d d d d")).toDF("doc_id", "text")
    // Query 2's array repeats `a` on purpose (ADVICE r14): the stream
    // must apply SET semantics (array_distinct before the explode), so
    // the duplicate neither double-counts contrib_u nor inflates
    // n_terms — parity below is against the DEDUPED batch workload.
    val qs = Seq((1L, Seq("a", "b")), (2L, Seq("a", "a")), (3L, Seq("zzz")))
    val qdf = qs.flatMap { case (id, ts) => ts.map(t => (id, t)) }
      .toDF("query_id", "term")
    val batchRows = TextAnalysis.bm25TopKBatch(docs, "doc_id", "text", qdf, k = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(batchRows.map(_._1) == Set(1L, 2L))
    // Offline-build/online-serve: the scored postings round-trip
    // through saveIndex/loadIndex; the server consumes the LOADED frame.
    val dir = tempDir("graft_stream_bm25")
    graft.sources.Sink.saveIndex(TextAnalysis.bm25Index(docs, "doc_id", "text"),
      s"$dir/idx", Map("family" -> "bm25", "k1" -> "6/5", "b" -> "3/4"))
    val (idx, params) = graft.sources.Load.loadIndex(spark, s"$dir/idx")
    assert(params("family") == "bm25")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[String])]
    ms.addData(qs.map { case (id, terms) => (id, t0, terms) }: _*)
    val out = StreamingOps.bm25TopKStream(ms.toDF.toDF("query_id", "ts", "terms"),
      "query_id", "terms", "ts", idx, k = 3)
    // Chained stateful aggregations emit in APPEND mode only, once the
    // watermark passes the window — drive it forward with late
    // no-match sentinels (two triggers: watermark advances one
    // trigger after its data arrives).
    val q = out.writeStream.format("memory").queryName("bm25_stream_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData((99L, late, Seq("zzz")))
      q.processAllAvailable()
      ms.addData((98L, late, Seq("zzz")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("bm25_stream_test")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == batchRows, s"stream $streamed vs batch $batchRows")
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "bm25TopKStream lost its watermark — unbounded state")
  }

  test("keywordsStream: frozen rank table, chained-agg top-k, batch-composition parity (T24b)") {
    implicit val sql = spark.sqlContext
    import graft.operators.TextAnalysis
    import graft.functions.TopK
    // Corpus with clear co-occurrence structure trains the rank table.
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "alpha beta delta gamma beta"),
      (3L, "gamma delta alpha beta gamma")).toDF("doc_id", "text")
    val dir = tempDir("graft_stream_kw")
    graft.sources.Sink.saveIndex(
      TextAnalysis.textRank(corpus, "doc_id", "text", window = 2, iters = 5)
        .select($"term", $"rank_u"),
      s"$dir/idx", Map("family" -> "textrank", "window" -> "2"))
    val (ranks, params) = graft.sources.Load.loadIndex(spark, s"$dir/idx")
    assert(params("family") == "textrank")
    // Arrivals: 100 mixes ranked terms with an UNRANKED novel word
    // (cannot be a keyword — inner-join contract); 101 is all-novel
    // (absent from output but still advances the watermark).
    val arrivals = Seq(
      (100L, "alpha alpha beta novelword gamma"),
      (101L, "wholly novel content"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(arrivals.map { case (id, tx) => (id, t0, tx) }: _*)
    val out = StreamingOps.keywordsStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", ranks, k = 3)
    val q = out.writeStream.format("memory").queryName("kw_stream_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData((99L, late, "sentinel"))
      q.processAllAvailable()
      ms.addData((98L, late, "sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("kw_stream_test")
      .as[(Long, String, Long)].collect().toSet
    // Batch composition over the arrivals against the SAME rank table.
    val batch = arrivals.toDF("doc_id", "text")
      .select($"doc_id", explode(org.apache.spark.sql.functions.filter(
        TextAnalysis.tokens(lower($"text")), x => x =!= "")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("m"))
      .join(ranks, Seq("term"))
      .select($"doc_id", $"term", ($"m" * $"rank_u").as("score_u"))
      .groupBy($"doc_id")
      .agg(TopK.smallestK(struct((-$"score_u").as("ns"), $"term".as("t")), 3).as("top"))
      .select($"doc_id", explode($"top").as("k"))
      .select($"doc_id", $"k.t", -$"k.ns")
      .as[(Long, String, Long)].collect().toSet
    assert(batch.map(_._1) == Set(100L))
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(!streamed.exists(_._2 == "novelword"), "unranked terms cannot be keywords")
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "keywordsStream lost its watermark — unbounded state")
  }

  test("semDedupStream: frozen centroids, cell-routed admission, exact batch parity") {
    implicit val sql = spark.sqlContext
    import graft.operators.Dedup
    // The semDedup unit fixture: centroids on axes e1/e2, corpus docs
    // 1-6 (cell 0: {1,2,3} near-dups + outlier 4; cell 1: {5,6}).
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0.1f, 0f)), (2L, Seq(1f, 0f, 0.12f, 0f)),
      (3L, Seq(1f, 0f, 0.3f, 0f)), (4L, Seq(1f, 0f, -1f, 0f)),
      (5L, Seq(0f, 1f, 0.1f, 0f)), (6L, Seq(0f, 1f, 0.3f, 0f)))
    val cents = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("c_id", "c_vec")
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val members = Dedup.semDedupMembers(corpusDf, "vec_id", "embedding", cents)
    // Arrivals: 100 duplicates the cell-0 group, 101 lands in cell 0
    // under θ (admitted ⇒ NO row), 102 duplicates the cell-1 pair.
    val arrivals = Seq(
      (100L, Seq(1f, 0f, 0.11f, 0f)),
      // e4 component keeps 101 under θ against EVERY cell-0 member
      // (cos ≤ 0.43 even vs the outlier v4) while still routing to
      // cell 0 (cos 0.30 vs centroid 0, 0 vs centroid 1).
      (101L, Seq(1f, 0f, -1f, 3f)),
      (102L, Seq(0f, 1f, 0.2f, 0f)))
    // Batch reference: assign corpus + arrivals together, take the
    // scored pairs touching an arrival (arrival ids sort above the
    // corpus ids, so they sit on the id_b side).
    val batchRef = Dedup.semDedupScoredPairs(
        Dedup.semDedupMembers(
          (corpus ++ arrivals).toDF("vec_id", "embedding"),
          "vec_id", "embedding", cents),
        minCosine = 0.9)
      .filter($"id_b" >= 100L)
      .groupBy($"id_b")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_dups"),
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct($"cos", (-$"id_a").as("ni"))).as("b"))
      .select($"id_b", $"n_dups", (-$"b.ni").as("best_id"), $"b.cos".as("best_cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    ms.addData(arrivals.map { case (id, v) => (id, t0, v) }: _*)
    val out = StreamingOps.semDedupStream(
      ms.toDF.toDF("vec_id", "ts", "embedding"),
      "vec_id", "embedding", "ts", cents, members, minCosine = 0.9)
    val dir = tempDir("graft_stream_semdedup")
    val q = out.writeStream.format("memory").queryName("semdedup_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("semdedup_stream_test")
      .select($"id_b", $"n_dups", $"best_id", $"best_cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == batchRef, s"stream $got vs batch $batchRef")
    assert(!got.exists(_._1 == 101L), "the admitted arrival must be absent")
    // The window column (ADVICE r14): all three arrivals share one
    // event-time window, and the rows must say WHICH.
    val ws = spark.table("semdedup_stream_test")
      .select($"window_start").distinct()
      .as[java.sql.Timestamp].collect()
    assert(ws.length == 1 && ws.head == t0,
      s"window_start should be the single 10:00 window, got ${ws.toSeq}")
    // Hand check: 100 dups all three cell-0 members; 102 dups both
    // cell-1 members; best = highest cosine.
    assert(got.map(r => r._1 -> r._2).toMap == Map(100L -> 3L, 102L -> 2L))
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "semDedupStream lost its watermark — unbounded state")
  }

  test("lrScoreStream: frozen trained weights, row-for-row batch parity incl. unseen buckets (T19f)") {
    implicit val sql = spark.sqlContext
    import graft.operators.TextAnalysis
    val train = (
      (1L to 8L).map(i => (i, "good good good", true)) ++
      (11L to 18L).map(i => (i, "bad bad bad", false))).toDF("doc_id", "text", "y")
    val model = TextAnalysis.lrTrain(train, "doc_id", "text", "y",
      buckets = 64, iters = 3, etaDen = 32)
    // Arrivals: one positive-marker doc, one negative, one with a
    // NOVEL word (unseen bucket contributes 0 — the left-join floor).
    val arrivals = Seq(
      (100L, "good good unseenword"),
      (101L, "bad bad bad bad"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(arrivals.map { case (id, tx) => (id, t0, tx) }: _*)
    val out = StreamingOps.lrScoreStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      model, buckets = 64)
    val q = out.writeStream.format("memory").queryName("lr_stream_test")
      .outputMode("update").option("checkpointLocation",
        tempDir("graft_lr_stream")).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("lr_stream_test")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val batch = TextAnalysis.lrScore(model,
        arrivals.toDF("doc_id", "text"), "doc_id", "text", buckets = 64)
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got.find(_._1 == 100L).get._4 && !got.find(_._1 == 101L).get._4)
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "lrScoreStream lost its watermark — unbounded state")
  }

  test("exactSubstrStream: frozen gram index, span cut, empty-doc absent, batch parity (D28)") {
    implicit val sql = spark.sqlContext
    import graft.operators.Dedup
    // Standing corpus: doc 1 holds an 8-token license blurb.
    val blurb = "this text is licensed under the example license"
    val corpus = Seq(
      (1L, s"corpus body one $blurb trailing words"),
      (2L, "a completely different corpus document body here")).toDF("doc_id", "text")
    val dir = tempDir("graft_stream_substr")
    graft.sources.Sink.saveIndex(
      Dedup.substrGramIndex(corpus, "doc_id", "text", n = 8),
      s"$dir/idx", Map("family" -> "exact_substr", "n" -> "8"))
    val (idx, params) = graft.sources.Load.loadIndex(spark, s"$dir/idx")
    assert(params("family") == "exact_substr")
    // Arrivals: 100 embeds the blurb (span cut), 101 is novel
    // (untouched), 102 is empty (absent from the stream output).
    val arrivals = Seq(
      (100L, s"arrival preamble $blurb and a tail"),
      (101L, "wholly novel arrival content with enough tokens here"),
      (102L, ""))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(arrivals.map { case (id, tx) => (id, t0, tx) }: _*)
    val out = StreamingOps.exactSubstrStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", idx, n = 8)
    val q = out.writeStream.format("memory").queryName("substr_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("substr_stream_test")
      .select($"doc_id", $"n_tokens", $"n_removed", $"clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val batch = Dedup.exactSubstrAgainstCorpus(
        arrivals.toDF("doc_id", "text"), corpus, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(batch.map(_._1) == Set(100L, 101L, 102L))
    // Stream parity minus the tokenless doc the stream deliberately omits.
    assert(got == batch.filterNot(_._1 == 102L), s"stream $got vs batch $batch")
    val cut = got.find(_._1 == 100L).get
    assert(cut._3 == 8L && !cut._4.contains("licensed"), cut.toString)
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "exactSubstrStream lost its watermark — unbounded state")
  }

  test("lineBoilerStream: frozen line index, blank survives, all-boiler doc absent, batch parity (T22)") {
    implicit val sql = spark.sqlContext
    import graft.operators.TextAnalysis
    // Corpus: 5 docs sharing a nav header and a rights footer around
    // unique bodies; at minDocs = 3 exactly those two lines are
    // boilerplate.
    val corpus = (1L to 5L)
      .map(i => (i, s"NAV HOME\nunique corpus body $i\nALL RIGHTS"))
      .toDF("doc_id", "text")
    val dir = tempDir("graft_stream_lineboiler")
    graft.sources.Sink.saveIndex(
      TextAnalysis.boilerplateLineIndex(corpus, "doc_id", "text", minDocs = 3),
      s"$dir/idx", Map("family" -> "line_boiler", "min_docs" -> "3"))
    val (idx, params) = graft.sources.Load.loadIndex(spark, s"$dir/idx")
    assert(params("family") == "line_boiler")
    // Arrivals: 100 mixes boiler + blank + novel body (blank and body
    // survive, in line order); 101 is ALL boilerplate (absent from the
    // output — the stated divergence from the batch twin); 102 carries
    // no boilerplate at all.
    val arrivals = Seq(
      (100L, "NAV HOME\n\nnovel arrival body\nALL RIGHTS"),
      (101L, "NAV HOME\nALL RIGHTS"),
      (102L, "totally novel\ncontent"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    ms.addData(arrivals.map { case (id, tx) => (id, t0, tx) }: _*)
    val out = StreamingOps.lineBoilerStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", idx)
    val q = out.writeStream.format("memory").queryName("lineboiler_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("lineboiler_stream_test")
      .select($"doc_id", $"n_lines_kept", $"clean_text")
      .as[(Long, Long, String)].collect().toSet
    // Batch parity: the batch operator over corpus + arrivals derives
    // the SAME boiler set (header/footer now in 7 docs, bodies unique);
    // arrival rows must match, minus the all-boiler doc the stream
    // deliberately omits.
    val batch = TextAnalysis.removeBoilerplateLines(
        corpus.unionByName(arrivals.toDF("doc_id", "text")),
        "doc_id", "text", minDocs = 3)
      .filter($"doc_id" >= 100L)
      .select($"doc_id", $"n_lines_kept", $"clean_text")
      .as[(Long, Long, String)].collect().toSet
    assert(batch.map(_._1) == Set(100L, 101L, 102L))
    assert(got == batch.filterNot(_._1 == 101L), s"stream $got vs batch $batch")
    assert(got.find(_._1 == 100L).get._3 == "\nnovel arrival body",
      "blank line must survive in order; boiler lines must drop")
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "lineBoilerStream lost its watermark — unbounded state")
  }

  test("psiDriftStream: frozen reference, per-window PSI incl. the emptied-bin smoothing path") {
    implicit val sql = spark.sqlContext
    // Frozen artifact: fences [100, 200] -> 3 bins; reference counts
    // (4, 4, 2), np = 10, B = 3 — round-tripped through
    // saveIndex/loadIndex like every serving twin.
    val dir = tempDir("graft_stream_psi")
    graft.sources.Sink.saveIndex(
      Seq((0, 4L), (1, 4L), (2, 2L)).toDF("bin", "n_ref"),
      s"$dir/ref", Map("family" -> "psi", "feature" -> "n_chars"))
    val (ref, params) = graft.sources.Load.loadIndex(spark, s"$dir/ref")
    assert(params("family") == "psi")
    val fences = Seq(Tuple1(Seq(100L, 200L))).toDF("fences")
    // Mirror of the operator's per-bin integer micro-nat term (the
    // batch pipeline_filter_psi formula), rounded HALF_UP like Spark's
    // round(col, 0) — the expectation is computed HERE, not by
    // running the operator.
    def psiU(cur: Seq[Long]): Long = {
      val refN = Seq(4L, 4L, 2L); val np = 13.0; val nq = cur.sum + 3.0
      refN.indices.map { b =>
        val cp = refN(b) + 1.0; val cq = cur(b) + 1.0
        val x = 1000000.0 * (cp / np - cq / nq) * math.log((cp * nq) / (cq * np))
        java.math.BigDecimal.valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      }.sum
    }
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:10:00")
    val late = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    // Window 1 tracks the reference shape loosely: bins (1, 1, 2).
    // Window 2 is ALL drift: bins (0, 0, 3) — two bins emptied, the
    // smoothed terms must still contribute (dropping them would
    // understate drift exactly when it is worst).
    ms.addData((50L, t0), (150L, t0), (250L, t0), (250L, t0))
    ms.addData((250L, t1), (250L, t1), (300L, t1))
    val out = StreamingOps.psiDriftStream(
      ms.toDF.toDF("n_chars", "ts"), "n_chars", "ts", fences, ref)
    val q = out.writeStream.format("memory").queryName("psi_stream_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData((1L, late))
      q.processAllAvailable()
      ms.addData((2L, late))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("psi_stream_test")
      .as[(java.sql.Timestamp, Long, Long, Double)].collect()
      .filter(_._1.before(late)).map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(got == Set(
      (t0, 4L, psiU(Seq(1L, 1L, 2L)), psiU(Seq(1L, 1L, 2L)).toDouble / 1000000.0),
      (t1, 3L, psiU(Seq(0L, 0L, 3L)), psiU(Seq(0L, 0L, 3L)).toDouble / 1000000.0)),
      s"got $got")
    // The drifted window must read as the louder one.
    assert(psiU(Seq(0L, 0L, 3L)) > psiU(Seq(1L, 1L, 2L)))
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "psiDriftStream lost its watermark — unbounded state")
  }

  test("dsirScoreStream: frozen llr artifact, batch parity on pool docs + full-domain floor for novel grams") {
    implicit val sql = spark.sqlContext
    import graft.operators.Sampling
    val target = Seq((0L, "a b a b c"), (10L, "b c b c")).toDF("doc_id", "text")
    val rawPool = Seq((1L, "a b x y"), (3L, "c c c c"), (7L, "x y x y"))
      .toDF("doc_id", "text")
    val buckets = 64
    val batch = Sampling.dsirScore(target, rawPool, "doc_id", "text", buckets)
      .select($"doc_id", $"n_grams",
        ($"logw_u".cast("double") / lit(1000000.0)).as("log_w"))
    val batchRows = batch.as[(Long, Long, Double)].collect().toSet
    assert(batchRows.size == 3)
    // Offline artifact: full-bucket-domain llr table, frozen + reloaded.
    val dir = tempDir("graft_stream_dsir")
    val llr = Sampling.dsirLlrTable(target, rawPool, "doc_id", "text", buckets)
    assert(llr.count() == buckets, "llr table must cover the FULL literal bucket domain")
    graft.sources.Sink.saveIndex(llr, s"$dir/llr",
      Map("family" -> "dsir-hashed-bigram", "buckets" -> buckets.toString))
    val (llr2, params) = graft.sources.Load.loadIndex(spark, s"$dir/llr")
    assert(params("buckets") == buckets.toString)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    // Pool docs for parity, plus a NOVEL doc whose grams no corpus
    // produced: the full-domain artifact must still score it (both
    // floors cancel into the totals prior), not drop or crash.
    ms.addData((1L, t0, "a b x y"), (3L, t0, "c c c c"), (7L, t0, "x y x y"),
      (99L, t0, "qq zz qq"))
    val scored = StreamingOps.dsirScoreStream(
      ms.toDF.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", llr2, buckets)
    val q = scored.writeStream.format("memory").queryName("dsir_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dsir_stream_test")
      .as[(Long, Long, Double)].collect().toSet
    val novel = streamed.filter(_._1 == 99L)
    assert(novel.size == 1 && novel.head._2 == 2L &&
      java.lang.Double.isFinite(novel.head._3),
      s"novel doc must get a finite floor score: $novel")
    assert(streamed.filter(_._1 != 99L) == batchRows,
      s"stream ${streamed.filter(_._1 != 99L)} vs batch $batchRows")
    assert(scored.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "dsirScoreStream lost its watermark — unbounded state")
  }

  test("ivfTopKStream: streamed queries match batch ivfTopKProbed row-for-row (ANN serving)") {
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val qRows = emb.filter($"vec_id" >= 10 && $"vec_id" < 14)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    ms.addData(qRows.toSeq.map { case (id, v) => (id, t0, v) }: _*)
    val dir = tempDir("graft_stream_ann")
    val served = StreamingOps.ivfTopKStream(
      ms.toDF.toDF("vec_id", "ts", "embedding"), emb, centroids,
      "vec_id", "embedding", "ts", k = 5, nprobe = 2)
    val q = served.writeStream.format("memory").queryName("ann_serve_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ann_serve_test")
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.operators.Similarity.ivfTopKProbed(
        emb.filter($"vec_id" >= 10 && $"vec_id" < 14), emb, centroids,
        "vec_id", "embedding", k = 5, nprobe = 2)
      .select($"q_id", $"n_id", $"cos").as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch)}; batch-only: ${batch.diff(streamed)}")
    assert(streamed.map(_._1).size == 4 && streamed.size == 20,
      s"expected 4 queries x top-5, got ${streamed.size} rows")
    assert(served.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "ivfTopKStream lost its watermark — unbounded state")
  }

  test("ivfTopKStream serves a TRAINED index loaded from disk (offline build -> online serve)") {
    // The full deployment loop in one test: kmeansFit trains the
    // coarse quantizer offline, saveIndex persists it with its
    // training params, a fresh "serving session" loadIndex-es it and
    // answers a query stream — results bit-identical to serving with
    // the in-session centroids (the restartability contract, extended
    // from the batch test to the stream server).
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val fitted = graft.operators.Similarity.kmeansFit(
      emb.filter($"embedding".isNotNull),
      graft.operators.Similarity.kmeansInit(emb, "vec_id", "embedding", 8),
      "vec_id", "embedding", iters = 2)
    val idxDir = tempDir("graft_serve_idx") + "/ivf"
    graft.sources.Sink.saveIndex(fitted, idxDir, Map("metric" -> "cosine", "iters" -> "2"))
    val (loaded, params) = graft.sources.Load.loadIndex(spark, idxDir)
    assert(params("metric") == "cosine")
    val qRows = emb.filter($"vec_id" >= 10 && $"vec_id" < 13)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def serve(cents: org.apache.spark.sql.DataFrame, name: String): Set[(Long, Long, Double)] = {
      val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
      ms.addData(qRows.toSeq.map { case (id, v) => (id, t0, v) }: _*)
      val dir = tempDir(s"graft_serve_$name")
      val served = StreamingOps.ivfTopKStream(
        ms.toDF.toDF("vec_id", "ts", "embedding"), emb,
        cents.select($"c_id", $"c_vec"), "vec_id", "embedding", "ts",
        k = 3, nprobe = 2)
      val q = served.writeStream.format("memory").queryName(s"serve_$name")
        .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(s"serve_$name").as[(Long, Long, Double)].collect().toSet
    }
    val direct = serve(fitted, "direct")
    val reloaded = serve(loaded, "reloaded")
    assert(direct == reloaded && direct.nonEmpty,
      s"direct-only: ${direct.diff(reloaded)}; reloaded-only: ${reloaded.diff(direct)}")
  }

  test("embedNearDupStream: streamed vectors match batch nearDupsAgainstCorpusEmbed (ingest dedup)") {
    implicit val sql = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val corpus = emb.filter(pmod($"vec_id", lit(10)) < 8)
    val batchRows = emb.filter(pmod($"vec_id", lit(10)) >= 8)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    ms.addData(batchRows.toSeq.map { case (id, v) => (id, t0, v) }: _*)
    val dir = tempDir("graft_stream_embdd")
    val flagged = StreamingOps.embedNearDupStream(
      ms.toDF.toDF("vec_id", "ts", "embedding"), corpus,
      "vec_id", "embedding", "ts",
      dim = 64, nBands = 6, bitsPerBand = 12, minCosine = 0.2)
    val q = flagged.writeStream.format("memory").queryName("embdd_stream_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("embdd_stream_test")
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.operators.Similarity.nearDupsAgainstCorpusEmbed(
        corpus, emb.filter(pmod($"vec_id", lit(10)) >= 8),
        "vec_id", "embedding", dim = 64, nBands = 6, bitsPerBand = 12, minCosine = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch)}; batch-only: ${batch.diff(streamed)}")
    assert(flagged.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "embedNearDupStream lost its watermark — unbounded state")
  }

  test("dedupStream keeps first arrival per fingerprint within the watermark") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val dir = tempDir("graft_stream4")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // "A  b" and " a b " normalize to the same fingerprint
    ms.addData((ts(1), "A  b"), (ts(2), " a b "), (ts(3), "different text"))

    val deduped = StreamingOps.dedupStream(
      ms.toDF.toDF("ts", "text"), watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("dedup_test").select("text").as[String].collect().toSet
    assert(out == Set("A  b", "different text")) // first arrival wins
  }

  test("nearDupStream drops a SimHash near-dup (not exact dup) within the watermark") {
    import graft.operators.{Dedup, TextAnalysis}
    implicit val sql = spark.sqlContext
    // Near-dup needs HIGH token-vote margins so one changed word flips
    // only a few SimHash bits: repeat the base sentence, change one
    // word in one repetition (hamming 7, exactly 1 shared band).
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet green hills of early summer "
    val t1 = base * 4
    val t2 = base * 3 + base.replace("dog", "cat")
    val t3 = "completely unrelated database systems research covering query optimization join algorithms and storage engines"

    // Batch-side preconditions, via the SAME code the stream uses:
    // t2 is a NEAR dup of t1 (different fingerprint, >=1 shared band),
    // t3 shares no band with either.
    val sigs = Dedup.withSimhash(
      Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
        .withColumn("toks", TextAnalysis.tokens(lower(col("text")))),
      "toks", "sim")
      .select(col("doc_id"), col("sim"),
        col("sim") /* keep */).select("doc_id", "sim")
      .as[(Long, Long)].collect().toMap
    val fps = Seq(t1, t2, t3).map(t => Seq(t).toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).as[String].head())
    assert(fps.distinct.size == 3, "texts must not be exact dups")
    def bandKeys(sim: Long): Set[(Int, Long)] =
      (0 until 4).map(b => (b, (sim >> (b * 15)) % (1L << 15))).toSet
    assert(bandKeys(sigs(1L)).intersect(bandKeys(sigs(2L))).nonEmpty,
      s"t1/t2 must collide in a band: ${sigs(1L).toBinaryString} vs ${sigs(2L).toBinaryString}")
    assert(bandKeys(sigs(3L)).intersect(bandKeys(sigs(1L)) ++ bandKeys(sigs(2L))).isEmpty,
      "t3 must be novel")

    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    val dir = tempDir("graft_stream5")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val out = StreamingOps.nearDupStream(
      ms.toDF.toDF("ts", "doc_id", "text"),
      watermark = "10 minutes", windowLen = "5 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      ms.addData((ts(10, 0), 1L, t1))
      q.processAllAvailable()
      ms.addData((ts(10, 2), 2L, t2), (ts(10, 3), 3L, t3))
      q.processAllAvailable()
      // Push the watermark past the earlier windows so append emits.
      ms.addData((ts(11, 0), 99L, "watermark pusher row"))
      q.processAllAvailable()
      val rows = spark.table("neardup_test")
        .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
      assert(rows.contains(1L), s"first arrival must survive: $rows")
      assert(rows.contains(3L), s"novel doc must survive: $rows")
      assert(!rows.contains(2L), s"near-dup must be dropped: $rows")
      // Batch/stream signature parity, bit for bit.
      assert(rows(1L) == sigs(1L) && rows(3L) == sigs(3L))
    } finally q.stop()
  }

  test("upsertSink maintains a latest-version parquet table across micro-batches") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(Long, String, Int)]
    val dir = tempDir("graft_upsert")
    val table = s"$dir/table"
    val q = StreamingOps.upsertSink(
      ms.toDF.toDF("k", "v", "version"),
      table, Seq("k"), "version", s"$dir/ckpt")
    try {
      ms.addData((1L, "a", 0), (2L, "b", 0))
      q.processAllAvailable()
      ms.addData((1L, "a2", 1), (3L, "c", 0), (2L, "stale", -1))
      q.processAllAvailable()
      val out = spark.read.parquet(table)
        .select($"k", $"v").as[(Long, String)].collect().toMap
      assert(out == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    } finally q.stop()
  }

  test("upsertBatch is idempotent: re-applying the same batch leaves the table identical") {
    val dir = tempDir("graft_upsert_idem")
    val table = s"$dir/t"
    import spark.implicits._
    val b1 = Seq((1L, "a", 0), (2L, "b", 0)).toDF("k", "v", "version")
    val b2 = Seq((1L, "a2", 1), (3L, "c", 0)).toDF("k", "v", "version")
    StreamingOps.upsertBatch(b1, table, Seq("k"), "version")
    StreamingOps.upsertBatch(b2, table, Seq("k"), "version")
    def snap() = spark.read.parquet(table)
      .as[(Long, String, Int)].collect().toSet
    val once = snap()
    // at-least-once retry: the SAME batch lands again
    StreamingOps.upsertBatch(b2, table, Seq("k"), "version")
    assert(snap() == once, "retry of an applied batch must be a no-op")
    assert(once == Set((1L, "a2", 1), (2L, "b", 0), (3L, "c", 0)))
  }

  test("upsertBatch self-heals a crash between the two swap renames") {
    // Simulate a batch that died after rename-aside (dst -> dst__old)
    // but before publish: the table path is missing, the full previous
    // table sits under __old. The next batch must restore it and merge
    // on top — the round-10 delete-then-rename would have lost it.
    val dir = tempDir("graft_upsert_crash")
    val table = s"$dir/t"
    import spark.implicits._
    val b1 = Seq((1L, "a", 0), (2L, "b", 0)).toDF("k", "v", "version")
    StreamingOps.upsertBatch(b1, table, Seq("k"), "version")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(table + "__old")), "test setup rename")
    val b2 = Seq((1L, "a2", 1)).toDF("k", "v", "version")
    StreamingOps.upsertBatch(b2, table, Seq("k"), "version")
    val got = spark.read.parquet(table).as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "a2", 1), (2L, "b", 0)),
      "recovery must restore __old before merging, not treat the table as new")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(table + "__old")),
      "the aside copy is deleted after a successful publish")
  }

  test("funnelStreamV2 (transformWithState) matches funnelStream across batch splits") {
    implicit val sql = spark.sqlContext
    import StreamingOps.FunnelEvent
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[FunnelEvent]
      val dir = tempDir("graft_stream_funnel2")
      val steps = Seq("view", "click", "purchase")
      val out = StreamingOps.funnelStreamV2(ms.toDS(), steps)
      val q = out.writeStream.format("memory").queryName("funnel2_test")
        .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
      try {
        ms.addData(
          FunnelEvent(1L, 20L, "click"), FunnelEvent(1L, 10L, "view"),
          FunnelEvent(1L, 5L, "click"), FunnelEvent(2L, 7L, "click"))
        q.processAllAvailable()
        ms.addData(
          FunnelEvent(1L, 30L, "purchase"),
          FunnelEvent(2L, 9L, "view"), FunnelEvent(2L, 9L, "click"))
        q.processAllAvailable()
        val last = spark.table("funnel2_test")
          .groupBy("userId").agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.struct($"stage", $"stepUs")).as("s"))
          .select($"userId", $"s.stage", $"s.stepUs")
          .as[(Long, Int, Seq[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
        // identical to the v1 (mapGroupsWithState) run in the sibling test
        assert(last(1L) == ((3, Seq(10L, 20L, 30L))))
        assert(last(2L) == ((1, Seq(9L, -1L, -1L))))
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("holtForecastStream matches the batch fold across micro-batch splits; late periods drop") {
    implicit val sql = spark.sqlContext
    import StreamingOps.{CusumPoint, HoltRow}
    import graft.operators.Funnel
    // A trend the smoother must learn: level 100 ramping by 5/day.
    val ns = (0 until 12).map(i => 100L + 5L * i)
    def day(i: Int) = java.sql.Date.valueOf(f"2024-02-${i}%02d")
    val batch = Funnel.holtForecast(
      ns.zipWithIndex.map { case (n, i) => (day(i + 1), n) }.toDF("d", "n"),
      "d", "n", alphaDen = 5, betaDen = 10)
      .as[(java.sql.Date, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1.toLocalDate.getDayOfMonth.toLong, r._2, r._3, r._4, r._5, r._6))
      .toSet
    val ms = MemoryStream[CusumPoint]
    val dir = tempDir("graft_stream_holt")
    val out = StreamingOps.holtForecastStream(ms.toDS(), alphaDen = 5, betaDen = 10)
    val q = out.writeStream.format("memory").queryName("holt_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      def pt(i: Int) = CusumPoint(3L, i.toLong, ns(i - 1))
      ms.addData(pt(1), pt(2), pt(3))
      q.processAllAvailable()
      // Out-of-order within a batch folds in period order; the re-sent
      // day 2 is behind the fence and must vanish, not re-fold.
      ms.addData(pt(5), pt(4), pt(2), pt(6), pt(7))
      q.processAllAvailable()
      ms.addData(pt(8), pt(9), pt(10), pt(11), pt(12))
      q.processAllAvailable()
      val got = spark.table("holt_test").as[HoltRow].collect()
      assert(got.length == 12, s"12 periods scored once each, got ${got.length}")
      assert(got.map(r => (r.d, r.n, r.forecastC, r.levelC, r.trendC, r.errC)).toSet
        == batch, "stream twin diverged from the batch fold")
      // The smoother LEARNS the ramp: the trend estimate climbs
      // monotonically toward the true 500 centi/day from below (the
      // forecast ERROR is still in its beta-transient at day 12 —
      // Holt lags a ramp until b converges; parity above is the pin,
      // the learning claim is the trend's approach).
      val t4 = got.find(_.d == 4L).get.trendC
      val t12 = got.find(_.d == 12L).get.trendC
      assert(0L < t4 && t4 < t12 && t12 <= 500L && t12 > 250L,
        s"t4=$t4 t12=$t12")
    } finally q.stop()
  }

  test("cusumShiftStream matches the batch fold across micro-batch splits; late periods drop") {
    implicit val sql = spark.sqlContext
    import StreamingOps.{CusumPoint, CusumAlarm}
    import graft.operators.Funnel
    // The batch unit fixture verbatim: jitter ±2 around 100 for six
    // days, then a sustained 115 — self-calibrated med = 102, MAD = 4.
    // The stream serves with those numbers FROZEN, so parity with the
    // self-calibrating batch fold is row-for-row by construction.
    val ns = Seq(100L, 98L, 102L, 99L, 101L, 100L, 115L, 115L, 115L, 115L, 115L, 115L)
    def day(i: Int) = java.sql.Date.valueOf(f"2024-01-${i}%02d")
    val batch = Funnel.cusumShift(
      ns.zipWithIndex.map { case (n, i) => (day(i + 1), n) }.toDF("d", "n"),
      "d", "n", hMads = 5)
      .as[(java.sql.Date, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1.toLocalDate.getDayOfMonth.toLong, r._2, r._3, r._4, r._5)).toSet
    val ms = MemoryStream[CusumPoint]
    val dir = tempDir("graft_stream_cusum")
    val out = StreamingOps.cusumShiftStream(ms.toDS(), med = 102L, mad = 4L, hMads = 5)
    val q = out.writeStream.format("memory").queryName("cusum_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      def pt(i: Int) = CusumPoint(7L, i.toLong, ns(i - 1))
      ms.addData(pt(1), pt(2), pt(3), pt(4))
      q.processAllAvailable()
      // out-of-order WITHIN a batch folds in period order; the re-sent
      // day 3 is behind the state fence and must vanish, not re-fold.
      ms.addData(pt(6), pt(5), pt(3), pt(7), pt(8))
      q.processAllAvailable()
      ms.addData(pt(9), pt(10), pt(11), pt(12))
      q.processAllAvailable()
      val got = spark.table("cusum_test").as[CusumAlarm].collect()
      assert(got.length == 12, s"12 periods scored once each, got ${got.length}")
      assert(got.map(a => (a.d, a.n, a.cusumPos, a.cusumNeg, a.isShift)).toSet
        == batch, "stream twin diverged from the batch fold")
      // Hand trace: S+ crosses 20 on day 9 (27), alarm stays on after.
      assert(got.filter(_.isShift).map(_.d).sorted.toSeq == Seq(9L, 10L, 11L, 12L))
    } finally q.stop()
  }

  test("abandonedFunnelStream: event-time timers flag stalled funnels, completed ones stay silent") {
    implicit val sql = spark.sqlContext
    import StreamingOps.{TimedFunnelEvent, FunnelAbandoned}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[TimedFunnelEvent]
      val dir = tempDir("graft_abandon")
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      val out = StreamingOps.abandonedFunnelStream(
        ms.toDS(), Seq("view", "click", "purchase"), timeoutMs = 5 * 60 * 1000L)
      val q = out.writeStream.format("memory").queryName("abandon_test")
        .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
      try {
        // u1 stalls at stage 2; u2 completes the funnel
        ms.addData(
          TimedFunnelEvent(1L, ts(0), "view"), TimedFunnelEvent(1L, ts(1), "click"),
          TimedFunnelEvent(2L, ts(0), "view"), TimedFunnelEvent(2L, ts(1), "click"),
          TimedFunnelEvent(2L, ts(2), "purchase"))
        q.processAllAvailable()
        // push the watermark far past u1's timeout (10:01 + 5min)
        ms.addData(TimedFunnelEvent(99L, ts(30), "view"))
        q.processAllAvailable()
        val rows = spark.table("abandon_test")
          .as[FunnelAbandoned].collect().toSeq
        assert(rows.map(_.userId).toSet == Set(1L), s"got $rows")
        assert(rows.head.stage == 2 && rows.head.lastTsMs == ts(1).getTime, s"got $rows")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("attributeClicks: stream-stream interval join emits in-window pairs only") {
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val dir = tempDir("graft_stream_ss")
    def ts(m: Int, s2: Int = 0) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s2%02d")

    val out = StreamingOps.attributeClicks(
      imps.toDF.toDF("imp_id", "user_id", "imp_ts"),
      clks.toDF.toDF("click_id", "user_id", "click_ts"),
      windowSec = 120, watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("attr_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      imps.addData((100L, 1L, ts(0)), (101L, 2L, ts(0)))
      clks.addData(
        (900L, 1L, ts(1)),      // in window for imp 100
        (901L, 1L, ts(5)),      // outside the 120s window
        (902L, 3L, ts(1)))      // no matching impression
      q.processAllAvailable()
      // A click BEFORE the impression must not attribute.
      imps.addData((102L, 2L, ts(6)))
      clks.addData((903L, 2L, ts(4)))
      q.processAllAvailable()
      val rows = spark.table("attr_test")
        .select("imp_id", "click_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((100L, 900L)), s"got $rows")
    } finally q.stop()
  }

  test("attributeClicksOuter: unconverted impressions emit null-extended after the watermark") {
    implicit val sql = spark.sqlContext
    val imps = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val dir = tempDir("graft_stream_sso")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

    val out = StreamingOps.attributeClicksOuter(
      imps.toDF.toDF("imp_id", "user_id", "imp_ts"),
      clks.toDF.toDF("click_id", "user_id", "click_ts"),
      windowSec = 120, watermark = "2 minutes")
    val q = out.writeStream.format("memory").queryName("attr_outer_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      imps.addData((100L, 1L, ts(0)), (101L, 2L, ts(0)))
      clks.addData((900L, 1L, ts(1))) // converts imp 100; imp 101 pending
      q.processAllAvailable()
      val early = spark.table("attr_outer_test")
        .select("imp_id", "click_id").as[(Long, Option[Long])].collect().toSet
      assert(early == Set((100L, Some(900L))),
        s"pending impression must NOT emit before the watermark proves the miss: $early")
      // Advance event time far past imp 101's window + watermark ON
      // BOTH SIDES — the global watermark is the MIN across inputs, so
      // a click-only advance leaves the impression side pinning it at
      // the start. Once it passes, the engine can prove no in-window
      // click will arrive and the null-extended miss row emits.
      imps.addData((199L, 9L, ts(30)))
      clks.addData((999L, 9L, ts(30)))
      q.processAllAvailable()
      imps.addData((198L, 9L, ts(40))) // one more batch to flush eviction
      clks.addData((998L, 9L, ts(40)))
      q.processAllAvailable()
      val rows = spark.table("attr_outer_test")
        .select("imp_id", "click_id").as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((101L, None)),
        s"unconverted impression must emit null-extended after the watermark: $rows")
      assert(rows.contains((100L, Some(900L))))
    } finally q.stop()
  }

  test("funnelStream: constant-state funnel matches the batch fold across batch splits") {
    implicit val sql = spark.sqlContext
    import StreamingOps.{FunnelEvent, FunnelProgress}
    val ms = MemoryStream[FunnelEvent]
    val dir = tempDir("graft_stream_funnel")
    val steps = Seq("view", "click", "purchase")

    val out = StreamingOps.funnelStream(ms.toDS(), steps)
    val q = out.writeStream.format("memory").queryName("funnel_test")
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // Batch 1: u1 view (plus an early click that must not count);
      // u2 click before any view; within-batch out-of-order arrival.
      ms.addData(
        FunnelEvent(1L, 20L, "click"), FunnelEvent(1L, 10L, "view"),
        FunnelEvent(1L, 5L, "click"),
        FunnelEvent(2L, 7L, "click"))
      q.processAllAvailable()
      // Batch 2: u1 completes; u2 view arrives (later ts), then a
      // click at the SAME microsecond as the view (strict > excludes).
      ms.addData(
        FunnelEvent(1L, 30L, "purchase"),
        FunnelEvent(2L, 9L, "view"), FunnelEvent(2L, 9L, "click"))
      q.processAllAvailable()

      val last = spark.table("funnel_test")
        .groupBy("userId").agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct($"stage", $"stepUs")).as("s"))
        .select($"userId", $"s.stage", $"s.stepUs")
        .as[(Long, Int, Seq[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(last(1L) == ((3, Seq(10L, 20L, 30L))))
      assert(last(2L) == ((1, Seq(9L, -1L, -1L))))

      // Batch parity: the same events through the batch operator.
      val batchEv = Seq(
        (1L, 20L, "click"), (1L, 10L, "view"), (1L, 5L, "click"),
        (2L, 7L, "click"), (1L, 30L, "purchase"), (2L, 9L, "view"), (2L, 9L, "click"))
        .toDF("user_id", "ts_us", "event_type")
      val batch = graft.operators.Funnel.stageTimes(batchEv, steps)
        .select($"user_id", $"stage",
          org.apache.spark.sql.functions.transform($"step_us",
            c => org.apache.spark.sql.functions.coalesce(c, org.apache.spark.sql.functions.lit(-1L))))
        .as[(Long, Long, Seq[Long])].collect()
        .map(r => r._1 -> ((r._2.toInt, r._3))).toMap
      assert(batch == last.map { case (k, v) => k -> v })
    } finally q.stop()
  }

  test("enrichStream: stream-static left join enriches batches, keeps unmatched rows") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[(String, Double)]
    val dir = tempDir("graft_stream6")
    val dim = Seq(("P1", "FERRAMENTAS"), ("P2", "QUIMICOS")).toDF("codigo_produto", "grupo")
    ms.addData(("P1", 10.0), ("P9", 5.0))

    val enriched = StreamingOps.enrichStream(
      ms.toDF.toDF("codigo_produto", "valor"), dim, "codigo_produto")
    val q = enriched.writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData(("P2", 7.0))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("enrich_test")
      .select("codigo_produto", "valor", "grupo").collect()
      .map(r => (r.getString(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(out == Set(
      ("P1", 10.0, Some("FERRAMENTAS")),
      ("P9", 5.0, None), // left join: unmatched stream rows survive
      ("P2", 7.0, Some("QUIMICOS"))))
  }

  test("sessionize TTL expiry is deterministic under TestGroupState (no wall clock)") {
    // Spark's public harness for exactly this: drive the transition
    // function through the timeout path the engine itself takes, with
    // the processing-time clock SIMULATED (round-10 verdict ask #6 —
    // the previous expiry coverage leaned on real timeouts firing,
    // which is host-speed-dependent by construction).
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val gap = 30 * 60 * 1000L

    // Batch 1 at t=1000: two events fold in, timer armed at t+gap.
    val s1 = TestGroupState.create[StreamingOps.SessionState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L, Optional.empty(), hasTimedOut = false)
    val out1 = StreamingOps.sessionizeTransition(gap)(7L, Iterator(
      StreamingOps.UserEvent(7L, 900L, 10.0),
      StreamingOps.UserEvent(7L, 950L, 5.0)), s1).toSeq
    assert(out1.isEmpty, "accumulation emits nothing")
    assert(s1.isUpdated && s1.exists)
    assert(s1.get == StreamingOps.SessionState(2L, 15.0, 950L))
    assert(s1.getTimeoutTimestampMs.get() == 1000L + gap,
      "gap timer re-arms relative to the batch's processing time")

    // Batch 2: the engine found the timer expired (simulated clock
    // past t+gap) — the timeout path must emit the summary and DROP
    // the state (bounded-state guarantee).
    val s2 = TestGroupState.create[StreamingOps.SessionState](
      Optional.of(s1.get), GroupStateTimeout.ProcessingTimeTimeout(),
      1000L + gap + 1, Optional.empty(), hasTimedOut = true)
    val out2 = StreamingOps.sessionizeTransition(gap)(7L, Iterator.empty, s2).toSeq
    assert(out2 == Seq(StreamingOps.SessionSummary(7L, 2L, 15.0)))
    assert(s2.isRemoved, "expired state must leave the store")
  }

  test("sessionize: flatMapGroupsWithState accumulates per-user state") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[StreamingOps.UserEvent]
    val dir = tempDir("graft_stream3")
    ms.addData(
      StreamingOps.UserEvent(1L, 1000L, 10.0),
      StreamingOps.UserEvent(1L, 2000L, 5.0),
      StreamingOps.UserEvent(2L, 1500L, 7.0))

    val sessions = StreamingOps.sessionize(ms.toDS(), gapMillis = 100L)
    val q = sessions.writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      // processAllAvailable never settles once processing-time timeouts
      // keep scheduling batches — poll the sink with a deadline instead.
      val deadline = System.currentTimeMillis() + 120000
      while (spark.table("sessions_test").count() < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(250)
      val out = spark.table("sessions_test").as[StreamingOps.SessionSummary]
        .collect().map(s => s.userId -> ((s.nEvents, s.totalValue))).toMap
      assert(out.get(1L).contains((2L, 15.0)))
      assert(out.get(2L).contains((1L, 7.0)))
    } finally q.stop()
  }
}

class SketchStreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("topWordsSketchStream: exact when distinct fits the budget, bounded + heavy-hitter-present when it doesn't (T5c streaming)") {
    implicit val sql = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    // One window, two micro-batches (forces a state-store round-trip
    // through the aggregate's serialize/deserialize): vocabulary of 3
    // fits k=8, so the summary must be EXACT — the deterministic pin.
    val dir = tempDir("graft_stream_mg")
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    ms.addData((t0, "a a b"), (t0, "a c"))
    val out = StreamingOps.topWordsSketchStream(
      ms.toDF.toDF("ts", "text"), "text", "ts", k = 8)
    val q = out.writeStream.format("memory").queryName("mg_stream_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData((t0, "a b b"))
      q.processAllAvailable()
      ms.addData((late, "sentinel"))
      q.processAllAvailable()
      ms.addData((late, "sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mg_stream_test")
      .filter($"window_start" === t0.toInstant.toString.replace("Z", "").replace("T", " "))
      .select($"word", $"est").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 4L, "b" -> 3L, "c" -> 1L),
      s"exact-regime summary wrong: $got")
  }

  test("topWordsSketchStream: eviction regime keeps <= k counters with MG bounds per window") {
    implicit val sql = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-02 12:00:00")
    val dir = tempDir("graft_stream_mg2")
    // 30 distinct noise words + one heavy word against k=4: the heavy
    // word's count (20) > N/(k+1) = 50/5 = 10, so it MUST survive.
    val noise = (1 to 30).map(i => s"w$i").grouped(5).map(_.mkString(" ")).toSeq
    val heavy = Seq.fill(4)("hh hh hh hh hh")
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    ms.addData(noise.map(t => (t0, t)): _*)
    val out = StreamingOps.topWordsSketchStream(
      ms.toDF.toDF("ts", "text"), "text", "ts", k = 4)
    val q = out.writeStream.format("memory").queryName("mg_stream_test2")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData(heavy.map(t => (t0, t)): _*)
      q.processAllAvailable()
      ms.addData((late, "sentinel"))
      q.processAllAvailable()
      ms.addData((late, "sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mg_stream_test2")
      .select($"word", $"est").as[(String, Long)].collect().toMap
    assert(got.size <= 4, s"summary exceeded k: $got")
    assert(got.contains("hh"), s"guaranteed heavy hitter missing: $got")
    assert(got("hh") <= 20L && got("hh") >= 20L - 50L / 5,
      s"hh estimate outside MG bounds: ${got("hh")}")
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "topWordsSketchStream lost its watermark — unbounded state")
  }

  test("quantileSketchStream: frozen bins, exact-integer rank extraction, clamp + n=1 edges (A25 streaming)") {
    implicit val sql = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-03 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-03 10:10:00")
    val late = java.sql.Timestamp.valueOf("2024-01-03 12:00:00")
    val dir = tempDir("graft_stream_qr")
    // Frozen domain: lo=0, width=10, 8 bins ([0,80) + clamp). Window 1
    // (split across two micro-batches — a forced state round-trip):
    // sorted units 0,5,12,23,34,45,67,79,999,999 with the 999s
    // CLAMPED into the top bin. n=10 → ranks ceil(qN): r50=5 → 34 →
    // bin 3 → est 30; r90=9 → 999 → bin 7 → est 70; r99=10 → 999 →
    // est 70. Window 2 is the n=1 edge: every rank is 1 → 42 → bin 4
    // → est 40. In-bounds guarantee holds: exact p50 34 ∈ [30, 40).
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    ms.addData(Seq(0L, 5L, 12L, 23L, 34L).map(v => (t0, v)): _*)
    val out = StreamingOps.quantileSketchStream(
      ms.toDF.toDF("ts", "v"), "v", "ts", loUnit = 0L, widthUnit = 10L, bins = 8)
    val q = out.writeStream.format("memory").queryName("qr_stream_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData(Seq(45L, 67L, 79L, 999L, 999L).map(v => (t0, v)): _*)
      q.processAllAvailable()
      ms.addData((t1, 42L))
      q.processAllAvailable()
      ms.addData((late, 0L))
      q.processAllAvailable()
      ms.addData((late, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("qr_stream_test")
      .as[(java.sql.Timestamp, Long, Long, Long, Long)].collect()
      .filter(_._1.before(late)).toSet
    assert(got == Set(
      (t0, 10L, 30L, 70L, 70L),
      (t1, 1L, 40L, 40L, 40L)), s"got $got")
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "quantileSketchStream lost its watermark — unbounded state")
  }

  test("thetaOverlapStream: exact regime under duplication — dedup stage kills multiplicity (A26 streaming)") {
    implicit val sql = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-04 10:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-04 12:00:00")
    val dir = tempDir("graft_stream_theta")
    // Segments A: e1..e6, B: e4..e9 -> union 9, intersection 3. Every
    // row is sent TWICE across two micro-batches (a forced state
    // round-trip), plus extra e1 repeats — without the dedup stage the
    // duplicate hashes would crowd the k-heap and the "exact when
    // unsaturated" claim would break. k = 16 > union: theta = 2^60 and
    // the estimates must BE the exact counts.
    val rows = (1 to 6).map(i => ("A", s"e$i")) ++ (4 to 9).map(i => ("B", s"e$i"))
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    ms.addData((rows ++ Seq.fill(5)(("A", "e1"))).map { case (t, e) => (t0, t, e) }: _*)
    val out = StreamingOps.thetaOverlapStream(
      ms.toDF.toDF("ts", "seg", "elem"), "seg", "elem", "ts", k = 16)
    val q = out.writeStream.format("memory").queryName("theta_stream_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData(rows.map { case (t, e) => (t0, t, e) }: _*) // exact repeats
      q.processAllAvailable()
      ms.addData((late, "A", "sentinel"))
      q.processAllAvailable()
      ms.addData((late, "A", "sentinel2"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("theta_stream_test")
      .as[(java.sql.Timestamp, String, String, Long, Long, Long, Long)].collect()
      .filter(_._1.before(late))
    assert(got.length == 1, s"expected one pair row, got ${got.toSeq}")
    val (_, sa, sb, theta, cc, estU, estI) = got.head
    assert((sa, sb) == ("A", "B"))
    assert(theta == 1152921504606846976L, s"unsaturated window must carry theta = 2^60, got $theta")
    assert(estU == 9L && estI == 3L && cc == 3L,
      s"exact-regime estimates wrong: union $estU inter $estI cc $cc")
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "thetaOverlapStream lost its watermark — unbounded state")
  }

  test("thetaOverlapStream: saturated regime matches the batch thetaPairEst chain row-for-row") {
    implicit val sql = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-05 12:00:00")
    val dir = tempDir("graft_stream_theta2")
    // 20 elements per segment, 8 shared, k = 4 << union: the real
    // estimator path. Expectation = the BATCH chain on the same
    // distinct rows (PipelineQueries.thetaPairEst — the dsirScoreStream
    // batch-parity posture), not hand-derived.
    val rows = (1 to 20).map(i => ("A", s"x$i")) ++ (13 to 32).map(i => ("B", s"x$i"))
    val ms = MemoryStream[(java.sql.Timestamp, String, String)]
    ms.addData(rows.map { case (t, e) => (t0, t, e) }: _*)
    val out = StreamingOps.thetaOverlapStream(
      ms.toDF.toDF("ts", "seg", "elem"), "seg", "elem", "ts", k = 4)
    val q = out.writeStream.format("memory").queryName("theta_stream_test2")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData((late, "A", "sentinel"))
      q.processAllAvailable()
      ms.addData((late, "A", "sentinel2"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("theta_stream_test2")
      .as[(java.sql.Timestamp, String, String, Long, Long, Long, Long)].collect()
      .filter(_._1.before(late))
      .map(r => (r._2, r._3, r._4, r._5, r._6, r._7)).toSet
    val el = rows.toDF("t", "elem")
      .select(col("t"), graft.functions.Hashing.md5Bits60(col("elem").cast("string")).as("h"))
      .distinct()
    val want = graft.queries.PipelineQueries.thetaPairEst(el, 4)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet
    assert(got == want, s"stream vs batch estimates differ:\n  got  $got\n  want $want")
  }
}

class NswStreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("nswTopKStream: frozen graph + corpus, chained beam rounds, batch parity incl. entry-unreachable neighbor (N25e)") {
    implicit val sql = spark.sqlContext
    import graft.operators.Similarity
    import scala.math.{cos => mcos, sin => msin}
    // The nswSearch chain fixture: corpus 1..8 rotating 0.15 rad/step,
    // hand-built chain graph, single entry point (lowest id = 1). The
    // query sits at the FAR end: its true neighbor (id 8) is
    // unreachable from the entry without walking the graph — rounds=7
    // must hop there, exactly the batch unit's contract.
    val n = 8
    val corpus = (1 to n).map { i =>
      val a = (i - 1) * 0.15
      (i.toLong, Seq(mcos(a).toFloat, msin(a).toFloat, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val graphDf = (1 until n).flatMap { i =>
      Seq((i.toLong, (i + 1).toLong, 0.99), ((i + 1).toLong, i.toLong, 0.99))
    }.toDF("src", "dst", "cos")
    val queries = Seq(
      (100L, Seq(mcos(7 * 0.15).toFloat, msin(7 * 0.15).toFloat, 0f, 0f)), // far end
      (101L, Seq(mcos(0.05).toFloat, msin(0.05).toFloat, 0f, 0f)))         // near entry
      .toDF("vec_id", "embedding")
    val batchRows = Similarity.nswSearch(queries, corpus, graphDf,
      "vec_id", "embedding", k = 2, beamWidth = 4, rounds = 7, nEntries = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(batchRows.exists { case (q, nid, _) => q == 100L && nid == 8L },
      "batch fixture lost its unreachable-without-walking property")
    // Offline-build/online-serve: the graph round-trips saveIndex.
    val dir = tempDir("graft_stream_nsw")
    graft.sources.Sink.saveIndex(graphDf, s"$dir/idx",
      Map("family" -> "nsw", "degree" -> "2"))
    val (frozen, params) = graft.sources.Load.loadIndex(spark, s"$dir/idx")
    assert(params("family") == "nsw")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val late = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val ms = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    ms.addData(
      (100L, t0, Seq(mcos(7 * 0.15).toFloat, msin(7 * 0.15).toFloat, 0f, 0f)),
      (101L, t0, Seq(mcos(0.05).toFloat, msin(0.05).toFloat, 0f, 0f)))
    val out = StreamingOps.nswTopKStream(
      ms.toDF.toDF("vec_id", "ts", "embedding"), "vec_id", "embedding", "ts",
      corpus, frozen, k = 2, beamWidth = 4, rounds = 7, nEntries = 1)
    val q = out.writeStream.format("memory").queryName("nsw_stream_test")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      ms.addData((99L, late, Seq(1f, 0f, 0f, 0f)))
      q.processAllAvailable()
      ms.addData((98L, late, Seq(1f, 0f, 0f, 0f)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("nsw_stream_test")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batchRows, s"stream $streamed vs batch $batchRows")
    assert(out.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      "nswTopKStream lost its watermark — unbounded state")
  }
}
