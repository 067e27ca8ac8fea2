package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** One benchmark run: a single closed-loop client that runs one
  * workload's registry queries round after round for a fixed time, in
  * its own JVM.
  *
  * Set-up brings the session up, readies the workload's shared inputs,
  * runs one untimed round whose action is the output check (each
  * query's output is fingerprinted instead of written) and one untimed
  * warm-up round, so codegen and most JIT cost land in set-up. The timed
  * rounds then run each query as construction (`run`, including the
  * builder's eager jobs) followed by a `noop` write. A traced run also
  * plans each query separately (`queryExecution.executedPlan`) and
  * registers [[Tracer]].
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *   <data dir> <result json> [<dump dir>]
  * With a dump dir, only set-up runs and every query's output from the
  * untimed round is also written there as parquet.
  */
object Harness {

  final case class Workload(
      name: String,
      queries: Seq[String],
      /** Frames persisted at set-up, standing for a warm server's state. */
      warm: (SparkSession, String) => Seq[DataFrame])

  /** `dashboard` is the paper's interactive workload and bypasses `Par`
    * and the eager cuts; `sweeps` runs a parameter curve built from them,
    * reading its inputs cold. `pretrain` is the costliest registry query
    * and too slow for a run of under a minute, so it is not in
    * BENCHMARK.json and runs by hand. */
  val workloads: Seq[Workload] = Seq(
    Workload("dashboard",
      Seq("abc_classify", "a1_groupby_sum", "j2_left_join_dim", "f4_date_between",
        "o1_sort_limit", "w_rolling_7d"),
      (s, d) => Seq(Tables.analiseComercial(s, d), Tables.classificacaoProdutos(s, d))),
    Workload("sweeps", Seq("dedup_decontam_curve"), (_, _) => Nil),
    Workload("pretrain", Seq("pipeline_pretrain_prep_full"), (_, _) => Nil))

  /** One query execution: phase seconds, or the phase that threw. */
  final case class Sample(round: Int, query: String, construct: Double, plan: Double,
      exec: Double, failedPhase: Option[String] = None, message: String = "") {
    def total: Double = construct + plan + exec
  }

  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, dataDir, outPath) = args.take(6)
    val dumpDir = args.lift(6)
    val seed = seedS.toLong
    val traced = traceS == "1"
    val wl = workloads.find(_.name == wlName).getOrElse(
      fail(s"unknown workload '$wlName'; known: ${workloads.map(_.name).mkString(", ")}"))
    // Exact registry names only: a prefix match once pulled extra queries in.
    val registry = SparkEntry.queries
    val missing = wl.queries.filterNot(registry.contains)
    if (missing.nonEmpty)
      fail(s"workload ${wl.name}: not in SparkEntry.queries: ${missing.mkString(", ")}")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def elapsed = f"${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s"
    System.err.println(s"[perfbench] registry ready at $elapsed")
    val spark = GraftSession.local(appName = s"perfbench-${wl.name}")
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    spark.conf.set("graft.load.repartition", cores.toString)
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)

    System.err.println(s"[perfbench] session up at $elapsed")
    wl.warm(spark, dataDir).foreach(_.persist(StorageLevel.MEMORY_AND_DISK).count())
    System.err.println(s"[perfbench] inputs ready at $elapsed")

    def order(round: Int): Seq[String] =
      new Random(seed * 1000003L + round).shuffle(wl.queries)

    def failed(round: Int, q: String, phase: String, e: Throwable): Sample = {
      val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      System.err.println(s"[perfbench] $q failed in $phase: $msg")
      Sample(round, q, 0, 0, 0, Some(phase), msg)
    }

    def runOne(round: Int, q: String, tag: Boolean): Sample = {
      var phase = "construct"
      def mark(): Unit =
        if (tag) sc.setLocalProperty(Tracer.SpanKey, s"$round|$q|$phase")
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      try {
        mark()
        val df = registry(q)(spark, dataDir)
        t1 = System.nanoTime()
        if (tag) {
          phase = "plan"; mark()
          df.queryExecution.executedPlan
        }
        t2 = System.nanoTime()
        phase = "exec"; mark()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        Sample(round, q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      } catch {
        case e: Throwable => failed(round, q, phase, e)
      } finally if (tag) sc.setLocalProperty(Tracer.SpanKey, null)
    }

    // Untimed cold round; its outputs are the ones checked.
    val samples = scala.collection.mutable.ArrayBuffer[Sample]()
    val fingerprints = scala.collection.mutable.LinkedHashMap[String, String]()
    for (q <- order(0)) {
      var phase = "construct"
      val t0 = System.nanoTime()
      try {
        val df = registry(q)(spark, dataDir)
        val t1 = System.nanoTime()
        phase = "check"
        fingerprints(q) = fingerprint(df)
        dumpDir.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q"))
        samples += Sample(0, q, (t1 - t0) / 1e9, 0, (System.nanoTime() - t1) / 1e9)
      } catch {
        case e: Throwable => samples += failed(0, q, phase, e)
      }
    }
    dumpDir.foreach(dir => json.writeValue(new File(s"$dir/oracle_sql.json"),
      wl.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    System.err.println(s"[perfbench] cold round done at $elapsed")
    // One untimed warm-up round: the first warm round still runs well
    // behind the JIT and is markedly slower than the ones after it.
    if (dumpDir.isEmpty) for (q <- order(-1)) samples += runOne(-1, q, tag = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(s"[perfbench] ready at $elapsed")
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    // Live heap at ready and after every timed round, outside the
    // round's time, so the peak does not hang on when the collector
    // happened to run. Collections repeat while the heap still shrinks:
    // Spark's cleaner and listener threads let go of dead frames and
    // events a moment after a collection.
    var peakLiveBytes = 0L
    var forcedGcMs = 0L
    def liveAfterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    def sampleLiveHeap(): Unit = {
      val g0 = gcMs
      var live = liveAfterGc()
      var shrinking = true
      var passes = 1
      while (shrinking && passes < 4) {
        Thread.sleep(200)
        val next = liveAfterGc()
        shrinking = next < live - (1L << 20)
        live = live min next
        passes += 1
      }
      forcedGcMs += gcMs - g0
      System.err.println(f"[perfbench] live heap ${live / 1048576.0}%.1f MB after $passes collections")
      peakLiveBytes = peakLiveBytes max live
    }
    val gc0 = gcMs
    sampleLiveHeap()

    // Timed rounds: whole rounds until the window is spent.
    val rounds = scala.collection.mutable.ArrayBuffer[Double]()
    val windowNs = (secondsS.toDouble * 1e9).toLong
    val w0 = System.nanoTime()
    while (dumpDir.isEmpty && System.nanoTime() - w0 < windowNs) {
      val round = rounds.size + 1
      val r0 = System.nanoTime()
      for (q <- order(round)) samples += runOne(round, q, tracer.isDefined)
      rounds += (System.nanoTime() - r0) / 1e9
      sampleLiveHeap()
    }
    val roundGcS = (gcMs - gc0 - forcedGcMs) / 1e3 / math.max(rounds.size, 1)

    val traceOut = tracer.map { t =>
      // The listener bus is asynchronous: a tagged sentinel job's end
      // arrives after every event of the rounds before it.
      sc.setLocalProperty(Tracer.SpanKey, Tracer.Sentinel)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(Tracer.SpanKey, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!t.sawSentinel && System.nanoTime() < deadline) Thread.sleep(10)
      val timed = samples.filter(_.round > 0)
      val n = rounds.size max 1
      def phases(ss: Iterable[Sample]) = Map(
        "queries.construct_s" -> ss.map(_.construct).sum / n,
        "plans.plan_s" -> ss.map(_.plan).sum / n,
        "exec.write_s" -> ss.map(_.exec).sum / n)
      val workload = t.summary(n, rounds.sum, cores) ++ phases(timed) ++ Map(
        "jvm.jit_s" -> jitS,
        "jvm.gc_s" -> roundGcS)
      val byQuery = timed.groupBy(_.query)
      val perQuery = t.perQuerySummary(n, q => byQuery(q).map(_.total).sum, cores)
        .map { case (q, m) => q -> (m ++ phases(byQuery(q))) }
      (workload, perQuery)
    }
    val layers = traceOut.map(_._1).getOrElse(Map.empty)
    val perQueryLayers = traceOut.map(_._2).getOrElse(Map.empty)

    val result = Map(
      "workload" -> wl.name,
      "seed" -> seed,
      "traced" -> traced,
      "cores" -> cores,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "setup_s" -> setupS,
      "peak_heap_mb" -> peakLiveBytes / 1048576.0,
      "rounds" -> rounds.toSeq,
      "samples" -> samples.toSeq.map(s => Map(
        "round" -> s.round, "query" -> s.query, "construct_s" -> s.construct,
        "plan_s" -> s.plan, "exec_s" -> s.exec, "failed_phase" -> s.failedPhase,
        "message" -> s.message)),
      "fingerprints" -> fingerprints.toMap,
      "layers" -> layers,
      "query_layers" -> perQueryLayers)
    json.writeValue(new File(outPath), result)
    spark.stop()
  }

  /** Order-insensitive digest of a frame: row count and the exact sum of
    * a 64-bit hash of each row's JSON, columns sorted by name. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col("`" + c.replace("`", "``") + "`"))
    val h = xxhash64(to_json(struct(cols.toIndexedSeq: _*))).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), sum(h)).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
}
