package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graft.ListenerBus

/** Per-stage diagnostics in the bench's set-up ([[GraftSession.harness]]):
  * for each named query, a cold and a warm run's wall time, the
  * JVM CPU seconds, the per-stage task counts, run time, CPU, GC, spill
  * and shuffle write from [[Trace]], and the cold run's executed plan.
  *
  * Usage: sbt "runMain graft.Diag a9_historico a10_c10_collapse_uniform"
  * (SPARK_GRAFT_SF_DIR selects the scale, default sf0.1).
  */
object Diag {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq("a9_historico")
    val spark = GraftSession.harness("graft-diag", sfDir)
    val sc = spark.sparkContext
    val trace = new Trace
    sc.addSparkListener(trace)

    def runOnce(name: String, run: String, explain: Boolean): Unit = {
      // The builder is timed too, as in Bench: eager pipelines do their
      // work there and hand the write an already-cut result.
      val tag = s"$name $run"
      val t0 = System.nanoTime()
      val cpu0 = Trace.jvmCpuNs()
      val df = Trace.tagged(sc, tag) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val jvmCpu = (Trace.jvmCpuNs() - cpu0) / 1e9
      ListenerBus.drain(sc)
      val stages = trace.take(tag)
      println(f"[diag] $name $run wall=$sec%.2f s jvm_cpu=$jvmCpu%.2f s " +
        f"task_cpu_share=${Trace.sum(stages).cpuShare}%.2f")
      stages.foreach { case (id, t) =>
        println(f"[diag]   stage $id%3d tasks=${t.tasks}%4d run=${t.runMs / 1000.0}%8.2f s cpu=${t.cpuNs / 1e9}%8.2f s gc=${t.gcMs / 1000.0}%7.2f s spill=${t.spillBytes / 1048576}%6d MB shufW=${t.shuffleWriteBytes / 1048576}%6d MB  ${t.name}")
      }
      if (explain) println(df.queryExecution.executedPlan.toString.take(8000))
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.toLowerCase.contains("code")).foreach { p =>
          println(f"[diag]   pool ${p.getName}: used=${p.getUsage.getUsed / 1048576} MB max=${p.getUsage.getMax / 1048576} MB")
        }
      println(s"[diag]   totalCompilationTime=${ManagementFactory.getCompilationMXBean.getTotalCompilationTime} ms")
    }

    names.foreach { n => runOnce(n, "COLD", explain = true); runOnce(n, "WARM", explain = false) }
    spark.stop()
  }
}
