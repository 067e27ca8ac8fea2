package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** Session factory with the configuration this engine assumes.
  *
  * Its Tungsten page is a fixed 1 MB, sized for the sub-MB tasks of
  * interactive queries; the `spark.buffer.pageSize` entry in [[local]]
  * gives the measurements and the limit this sets.
  *
  * Local mode is a single JVM; the same settings (AQE, sane shuffle
  * partition counts, UTC dates) are what we'd set cluster-side. At the
  * 100 TB tier the shuffle-partition count is sized by AQE coalescing
  * (`spark.sql.adaptive.coalescePartitions.enabled`), so the static
  * number here only matters as the pre-AQE upper bound.
  */
object GraftSession {
  def local(
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE sizes post-shuffle partitions by BYTES, which is the wrong
      // proxy when the stage downstream of the exchange multiplies
      // work per byte — a doc-cardinality dedup survivor frame is
      // ~1 MB here, so the default 1 MB floor coalesced it to ONE
      // partition and the n-gram explode + broadcast-join feeding
      // every decontamination gate ran single-threaded (measured
      // round 17: 2.3 s of the pretrain composites' wall in one task;
      // 64k floor → 32-way, ~0.1 s). At the 100 TB tier post-shuffle
      // partitions are advisory-sized anyway and a larger floor (the
      // default) is fine.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // ObjectHashAggregate (collect_list/collect_set/percentile — the
      // a9 history family) falls back to sort-based aggregation after
      // 128 distinct keys per task. For the history workload that is
      // every task (59k groups at sf0.1), and the fallback routes every
      // row through an UnsafeKVExternalSorter: measured on the a9
      // flagship, 179 s of GC + 390 s CPU in one stage vs 2 s GC / 16 s
      // CPU on the hash path (Diag.scala, round 5). 64k keys keeps the
      // hash path for real partition sizes while preserving the
      // fallback for pathological ones: the hash map holds one
      // PARTITION's group buffers — with spread/AQE-sized partitions
      // (≤ a few hundred MB) that is bounded by the partition itself,
      // and a genuinely hot key is what [[graft.operators.History]]'s
      // capped variant and AQE skew handling are for.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      // Iterative operators (dedupClusters label propagation, kmeansFit
      // Lloyd rounds) supersede a reliable checkpoint every round when
      // a checkpoint dir is set; Spark's default leaves every round's
      // files on disk for the application lifetime (cleanCheckpoints
      // defaults to false). With this on, the ContextCleaner deletes a
      // round's checkpoint files as soon as its RDD is unreachable —
      // bounding checkpoint storage at O(live frames), not O(rounds).
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Legacy events testdata stored TIMESTAMP(NANOS), which Spark's
      // parquet reader rejects by default; map it to epoch-nanos bigint
      // session-wide so Tables.normalizeTs can canonicalize it. Current
      // testdata is TIMESTAMP(MICROS) (the conf is a no-op there). Set
      // at build time so no table loader has to mutate a live session.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Bucketed saveAsTable ([[graft.sources.Sink.saveBucketed]])
      // needs a writable warehouse; keep it out of the repo tree.
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // Spark renders a plan-description string EAGERLY on the
      // execution thread for every query start and every AQE re-plan —
      // even with the UI off — and the default "formatted" mode runs
      // ExplainUtils.processPlan: per-node regex work, repeated once
      // per PATH through shared subtrees. On checkpoint-heavy DAG
      // plans this went pathological (round-5 profiling: 1,890 CPU-s
      // inside ExplainUtils under one label-propagation test before
      // dedupClusters was flattened; the round-5 bench's residual
      // driver-bound stalls — dedup_ngram 710 s with 32 executors
      // idle — share the same single-driver-thread signature).
      // "simple" keeps the event contract and costs one cheap
      // treeString; nothing in this library reads the description.
      .config("spark.sql.ui.explainMode", "simple")
      // Tungsten page: the unit in which every sort, hash aggregate and
      // hash map allocates execution memory. Spark's default is the
      // execution pool ÷ cores ÷ 16 rounded up to a power of two, capped
      // at 64 MB, which a 7 GB heap on 4 cores reaches. Each sort or hash-aggregate
      // task then allocates and zeroes at least one 64 MB page, and
      // under G1 (4 MB regions at that heap) the page is a humongous
      // object. On this engine's interactive queries a task's input is
      // well under 1 MB. Measured at sf0.01 (4 cores, 7 GB heap), the
      // final HashAggregate of `a1_groupby_sum` (a few groups) had
      // peakMemory 64.2 MiB and `w_rolling_7d`'s window Sort 256.5 MiB
      // over 4 tasks; with 1 MB pages they have 1.25 MiB and 4.5 MiB. A
      // bigger task simply takes more pages, and a record larger than a
      // page gets a page of its own. Limit: a task's page table holds
      // 8192 pages, so one task can hold at most 8 GB of pages, and past
      // that Spark fails the task rather than spilling. A 7 GB heap's
      // whole execution pool is about 4 GB, so no task reaches it; above
      // a heap of about 14 GB (build.sbt's 32g default) a lone task with
      // more than 8 GB of sort or aggregate state could.
      .config("spark.buffer.pageSize", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session the harness mains (Bench, Diag, PlanDump) run queries in.
    *   - `graft.load.repartition` is the core count, so the warm views
    *     hold one partition per core; single-row-group test files would
    *     otherwise pin every scan-side stage to one task
    *     ([[graft.sources.Tables]] `spread`).
    *   - The five shared views are persisted up front. Spark's
    *     CacheManager substitutes the cached relation into every query
    *     whose subplan matches, so the 5-way fact join is executed
    *     once, as a warm server would hold it.
    *   - The fact and dimension views are also session handles:
    *     [[graft.sources.Tables.analiseComercial]] and
    *     [[graft.sources.Tables.classificacaoProdutos]]
    *     hand every later query the same analyzed plan that was
    *     persisted here, so a query neither re-reads the five tables
    *     nor re-analyzes the join. The repartition conf is set before
    *     they are built because it is part of their memo key.
    */
  def harness(appName: String, sfDir: String): SparkSession = {
    val spark = local(appName = appName)
    spark.conf.set("graft.load.repartition", spark.sparkContext.defaultParallelism.toString)
    Seq(Tables.analiseComercial(spark, sfDir),
      Tables.classificacaoProdutos(spark, sfDir),
      Tables.lineitem(spark, sfDir),
      Tables.documents(spark, sfDir),
      Tables.embeddings(spark, sfDir))
      .foreach(_.persist(StorageLevel.MEMORY_AND_DISK).count())
    spark
  }
}
