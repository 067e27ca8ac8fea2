package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-layer counters for the traced run, folded from Spark's listener
  * events. Nothing inside the program is instrumented: the harness tags
  * every job it causes with the local property [[Tracer.SpanKey]]
  * (`round|query|phase`), Spark copies local properties into the
  * threads `graft.operators.Par` starts for its arms, and this listener
  * attributes jobs, stages and tasks to layers by that tag, by the
  * `graft.Par arm` job description and by the job's call site (an
  * eager `CheckpointBlocks.cut`). Jobs without the tag (set-up, the
  * output check) are ignored.
  */
final class Tracer extends SparkListener {
  import Tracer._

  /** Stage and task totals of one query's jobs. */
  private final class Acc {
    var stages, tasks, taskRunMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill,
      inputBytes, inputRows, waitMs = 0L
  }

  private def query(span: String): String = span.split('|')(1)
  private def acc(stageId: Int): Acc = perQuery.getOrElseUpdate(query(stageSpan(stageId)), new Acc)

  private final class Job(val span: String, val start: Long, val isCut: Boolean,
      val parGroup: Option[String]) {
    var end: Long = start
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageSpan = mutable.Map[Int, String]()
  private val stageSubmitted = mutable.Map[(Int, Int), Long]()
  private val stageFirstLaunch = mutable.Map[(Int, Int), Long]()
  private val cutRdds = mutable.Set[Int]()
  private val cutBlocks = mutable.Map[String, Long]()
  private val sqlScans = mutable.Map[Long, (Int, Int)]()
  private val sqlQuery = mutable.Map[Long, String]()
  private val perQuery = mutable.LinkedHashMap[String, Acc]()
  private var cutBytes = 0L
  private var sentinelJob = -1
  private var sentinelSeen = false
  /** Only blocks of cuts made in tagged jobs count: set-up leaves cut
    * blocks behind that are not the timed rounds' own. */
  private var peakCutBytes = 0L

  private def span(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    span(e.properties).foreach {
      case Sentinel => sentinelJob = e.jobId
      case s =>
        val finalStage = e.stageInfos.maxBy(_.stageId)
        val isCut = finalStage.name.startsWith("cut at ") ||
          finalStage.details.contains("CheckpointBlocks$.cut(")
        val group = Option(e.properties.getProperty("spark.jobGroup.id"))
          .filter(_ => e.properties.getProperty("spark.job.description") == ParArm)
        jobs(e.jobId) = new Job(s, e.time, isCut, group)
        e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, s))
        if (isCut) e.stageInfos.foreach(_.rddInfos
          .filter(r => r.storageLevel.useMemory || r.storageLevel.useDisk)
          .foreach(r => cutRdds += r.id))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(id => sqlQuery(id.toLong) = query(s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    if (e.jobId == sentinelJob) sentinelSeen = true
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    if (stageSpan.contains(si.stageId))
      stageSubmitted((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    if (stageSubmitted.contains(key)) {
      val a = acc(key._1)
      a.stages += 1
      stageFirstLaunch.get(key).foreach(l => a.waitMs += l - stageSubmitted(key))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    if (stageSubmitted.contains(key) && !stageFirstLaunch.contains(key))
      stageFirstLaunch(key) = e.taskInfo.launchTime
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageSpan.contains(e.stageId) && stageSubmitted.contains((e.stageId, e.stageAttemptId))) {
      val a = acc(e.stageId)
      a.tasks += 1
      a.taskRunMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.filter(b => cutRdds.contains(b.rddId)).foreach { b =>
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cutBytes += size - cutBlocks.getOrElse(b.name, 0L)
      if (size == 0L) cutBlocks -= b.name else cutBlocks(b.name) = size
      if (cutBytes > peakCutBytes) peakCutBytes = cutBytes
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    if (cutRdds.remove(e.rddId)) {
      val prefix = s"rdd_${e.rddId}_"
      val gone = cutBlocks.keys.filter(_.startsWith(prefix)).toList
      gone.foreach(k => cutBytes -= cutBlocks.remove(k).get)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlScans(s.executionId) = scans(s.sparkPlanInfo)
    }
    case _ =>
  }

  def sawSentinel: Boolean = synchronized(sentinelSeen)

  /** Layer metrics per round over the jobs of the given queries;
    * `wallS` is the summed wall time of the `rounds` rounds. */
  private def layers(keep: String => Boolean, rounds: Int, wallS: Double,
      cores: Int): Map[String, Double] = {
    val js = jobs.values.toSeq.filter(j => keep(query(j.span)))
    val as = perQuery.filter { case (q, _) => keep(q) }.values.toSeq
    def total(f: Acc => Long): Double = as.map(f).sum.toDouble
    val cuts = js.filter(_.isCut)
    val par = js.filter(_.parGroup.isDefined).groupBy(_.parGroup.get)
    val parArmMs = par.values.map(_.map(j => j.end - j.start).sum).sum
    val parWallMs = par.values.map(g => g.map(_.end).max - g.map(_.start).min).sum
    val (cached, files) = sqlScans.filter { case (id, _) => sqlQuery.get(id).exists(keep) }
      .values.foldLeft((0, 0)) { case ((c, f), (c1, f1)) => (c + c1, f + f1) }
    val r = rounds.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "queries.construct_jobs" -> js.count(_.span.endsWith("|construct")) / r,
      "sched.jobs" -> js.size / r,
      "sched.stages" -> total(_.stages) / r,
      "sched.tasks" -> total(_.tasks) / r,
      "sched.wait_s" -> total(_.waitMs) / 1e3 / r,
      "sched.core_busy_frac" -> total(_.taskRunMs) / 1e3 / (wallS * cores),
      "task.cpu_s" -> total(_.cpuNs) / 1e9 / r,
      "task.gc_s" -> total(_.gcMs) / 1e3 / r,
      "shuffle.read_mb" -> total(_.shuffleRead) / mb / r,
      "shuffle.write_mb" -> total(_.shuffleWrite) / mb / r,
      "spill.mb" -> total(_.spill) / mb / r,
      "par.calls" -> par.size / r,
      "par.jobs" -> par.values.map(_.size).sum / r,
      "par.overlap" -> (if (parWallMs > 0) parArmMs.toDouble / parWallMs else 0.0),
      "cut.jobs" -> cuts.size / r,
      "cut.s" -> cuts.map(j => j.end - j.start).sum / 1e3 / r,
      "sources.input_mb" -> total(_.inputBytes) / mb / r,
      "sources.input_rows" -> total(_.inputRows) / r,
      "sources.cache_hit_frac" ->
        (if (cached + files > 0) cached.toDouble / (cached + files) else 0.0))
  }

  /** Workload totals per round, plus the peak of cut blocks held. */
  def summary(rounds: Int, wallS: Double, cores: Int): Map[String, Double] = synchronized {
    layers(_ => true, rounds, wallS, cores) + ("cut.peak_cached_mb" -> peakCutBytes / 1048576.0)
  }

  /** The same counters per query; `wallS` is that query's summed time. */
  def perQuerySummary(rounds: Int, wallS: String => Double, cores: Int)
      : Map[String, Map[String, Double]] = synchronized {
    jobs.values.map(j => query(j.span)).toSeq.distinct
      .map(q => q -> layers(_ == q, rounds, wallS(q), cores)).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Sentinel = "perfbench.sentinel"
  /** The job description `graft.operators.Par` gives every arm's jobs. */
  val ParArm = "graft.Par arm"

  /** (cached-relation scans, file scans) among a plan's leaves. A cached
    * relation's own plan is not descended into: it ran at set-up. */
  def scans(p: SparkPlanInfo): (Int, Int) =
    if (p.nodeName == "InMemoryTableScan") (1, 0)
    else if (p.nodeName.startsWith("Scan ") && p.children.isEmpty &&
      !p.nodeName.startsWith("Scan ExistingRDD") && !p.nodeName.startsWith("Scan OneRowRelation"))
      (0, 1)
    else p.children.map(scans).foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
