package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics per job tag, folded from Spark's listener events.
  *
  * A caller tags the jobs it causes with the local property
  * [[Trace.TagKey]] ([[Trace.tagged]]). Spark copies local properties
  * into the threads a tagged thread starts, so the jobs of
  * `graft.operators.Par` arms carry their caller's tag too. Every task
  * that ends is added to its stage's [[Trace.Tally]] under the tag of
  * the first job that listed the stage; stages of untagged jobs are
  * ignored. Events arrive asynchronously: drain the bus
  * (`org.apache.spark.sql.graft.ListenerBus.drain`) before reading what
  * a finished action did.
  */
final class Trace extends SparkListener {
  import Trace._

  private val stageTag = mutable.Map[Int, (String, String)]() // stage id -> (tag, name)
  private val tallies = mutable.Map[Int, Tally]() // stage id -> its tasks so far

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
      e.stageInfos.foreach(si => stageTag.getOrElseUpdate(si.stageId,
        (tag, si.name.linesIterator.nextOption().getOrElse(""))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { case (_, name) =>
      val t = Option(e.taskMetrics).fold(Tally(name, tasks = 1)) { m =>
        Tally(name, 1, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.memoryBytesSpilled, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten)
      }
      tallies(e.stageId) = tallies.get(e.stageId).fold(t)(_ + t)
    }
  }

  /** The per-stage tallies of a tag's jobs in stage order, forgetting the tag. */
  def take(tag: String): Seq[(Int, Tally)] = synchronized {
    val ids = stageTag.collect { case (id, (t, _)) if t == tag => id }.toSeq.sorted
    stageTag --= ids
    ids.flatMap(id => tallies.remove(id).map(id -> _))
  }
}

object Trace {
  val TagKey = "graft.trace.tag"

  /** Task totals of one stage, or summed over stages (keeping the first name). */
  final case class Tally(
      name: String = "", tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
      gcMs: Long = 0, spillBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0) {
    def +(o: Tally): Tally = Tally(name, tasks + o.tasks, runMs + o.runMs,
      cpuNs + o.cpuNs, gcMs + o.gcMs, spillBytes + o.spillBytes,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes)

    /** Share of the tasks' run time spent on CPU or in GC; 1 when they ran
      * for 0 ms, so a pass without tasks gives no evidence of a stall. */
    def cpuShare: Double = if (runMs <= 0) 1.0 else (cpuNs / 1e6 + gcMs) / runMs
  }

  def sum(stages: Seq[(Int, Tally)]): Tally = stages.map(_._2).foldLeft(Tally())(_ + _)

  /** CPU time of the whole JVM so far (tasks, driver, JIT and GC threads). */
  def jvmCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Runs `body` with the jobs it causes on this thread tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, null)
  }
}
