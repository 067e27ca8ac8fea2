package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.graft.ListenerBus

import graft.Trace.Tally

/** Benchmark main: times every registered query on `SPARK_GRAFT_SF_DIR`
  * and prints one JSON line for the driver.
  *
  * == Protocol ==
  *   - Set-up is [[GraftSession.harness]]: one partition per core and
  *     the five shared views persisted once.
  *   - A pass over a query builds it and consumes it with a `noop`
  *     write. The builder is inside the timed region, because the eager
  *     pipelines (dedup pairs, LSH, `Par` arms, cuts) do their work
  *     there. `count()` is not used: Catalyst would prune the very
  *     expressions some queries exist to compute.
  *   - `SPARK_GRAFT_BENCH_PASSES` (default 2) passes. A query's value is
  *     the minimum over its successful passes: pass 1 carries JIT and
  *     codegen compile, and host noise only ever adds time.
  *   - Pass 1 runs every query whatever the budget, so the budget can
  *     cost precision but never coverage.
  *   - Passes 2..P run the queries that hold fewer passes, in ascending
  *     order of their best time so far. A query runs only if elapsed
  *     time plus 1.2x its best time fits in `SPARK_GRAFT_BENCH_BUDGET_SEC`
  *     (default 480); one that does not fit is skipped and the pass
  *     goes on to cheaper ones.
  *   - A query that fails on any pass is listed under `failed` and left
  *     out of the total. Its value is its best successful pass, or -1.
  *   - `budget_demoted` is derived from the pass counts after the run:
  *     `ran_1_of_2_passes` (the only number includes cold compile) or
  *     `no_pass`. Failed queries are not demoted.
  *
  * == Stall flag ==
  * Each pass runs under its own [[Trace]] tag, so the pass's tasks,
  * including those of `Par` arms, are folded into one [[Trace.Tally]].
  * Two shares are taken per pass:
  *   - the tasks' share of their run time on CPU or in GC;
  *   - the JVM's share of the host's CPU capacity (all its threads'
  *     CPU over wall time x available processors).
  * A task waits for a core either because the JVM's own threads (JIT
  * compilers, driver, GC) fill the cores, which keeps the JVM share
  * high, or because something outside the JVM took them. A pass is
  * stalled when both shares are below [[MinCpuShare]]. Neither share
  * works alone: scheduler-bound queries leave cores idle when nothing
  * else runs, and on a few cores the JIT compilers alone keep the tasks
  * off CPU half the time. A query is `suspect` when its best pass is
  * stalled. The flag marks a value; it re-runs nothing.
  *
  * == Output ==
  * The full JSON goes to `SPARK_GRAFT_BENCH_OUT` (default
  * `target/bench_result.json`) and to stdout: `metric`, `value`
  * (total seconds), `unit`, `queries` (name -> seconds), `sf`,
  * `passes`, `failed`, `budget_demoted`, `default_stat`, `suspect`,
  * `task_cpu_share` and `jvm_cpu_share` (each query's best pass) and
  * `wall_sec`. The driver keeps a bounded tail of stdout, so the last
  * line is a summary of at most 1500 bytes: counts plus the slowest
  * values that fit.
  * `SPARK_GRAFT_BENCH_FILTER` (comma-separated names or name prefixes)
  * runs a subset.
  */
object Bench {

  /** A pass whose task and JVM CPU shares are both below this is stalled. */
  val MinCpuShare = 0.68
  private val EstFactor = 1.2
  private val LineBudget = 1500

  /** A successful pass: wall seconds, its tasks' tally and the JVM's CPU share. */
  final case class Pass(sec: Double, tasks: Tally, jvmShare: Double) {
    def stalled: Boolean = math.max(tasks.cpuShare, jvmShare) < MinCpuShare
  }

  /** A query's successful passes, in run order, and whether any pass failed. */
  final case class Record(passes: Seq[Pass] = Nil, failed: Boolean = false) {
    def best: Option[Pass] = passes.minByOption(_.sec)
  }

  final case class Summary(
      values: Seq[(String, Double)], total: Double, failed: Seq[String],
      demoted: Seq[(String, String)], suspect: Seq[String], best: Seq[(String, Pass)])

  def summarize(records: Seq[(String, Record)], passes: Int): Summary = {
    Summary(
      records.map { case (n, r) => n -> r.best.fold(-1.0)(_.sec) },
      records.collect { case (_, r) if !r.failed => r.best.fold(0.0)(_.sec) }.sum,
      records.collect { case (n, r) if r.failed => n },
      records.collect { case (n, r) if !r.failed && r.passes.size < passes =>
        val k = r.passes.size
        n -> (if (k == 0) "no_pass" else s"ran_${k}_of_${passes}_passes")
      },
      records.collect { case (n, r) if r.best.exists(_.stalled) => n },
      records.flatMap { case (n, r) => r.best.map(n -> _) })
  }

  private def q(s: String): String = "\"" + s + "\""
  private def num(v: Double): String = f"$v%.3f"
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  private def arr(xs: Seq[String]): String = xs.map(q).mkString("[", ",", "]")

  /** The full result line. */
  def artifact(s: Summary, sf: String, passes: Int, wallSec: Double): String =
    obj(Seq(
      "metric" -> q("total"), "value" -> num(s.total), "unit" -> q("sec"),
      "queries" -> obj(s.values.map { case (n, v) => n -> num(v) }),
      "sf" -> q(sf), "passes" -> passes.toString, "failed" -> arr(s.failed),
      "budget_demoted" -> obj(s.demoted.map { case (n, l) => n -> q(l) }),
      "default_stat" -> q("min"), "suspect" -> arr(s.suspect),
      "task_cpu_share" -> obj(s.best.map { case (n, p) => n -> f"${p.tasks.cpuShare}%.2f" }),
      "jvm_cpu_share" -> obj(s.best.map { case (n, p) => n -> f"${p.jvmShare}%.2f" }),
      "wall_sec" -> f"$wallSec%.1f"))

  /** The last stdout line: counts, then the slowest values that fit in
    * [[LineBudget]] bytes. Failures are a count, so a mass failure
    * cannot push the line past the budget.
    */
  def finalLine(s: Summary, sf: String, passes: Int, wallSec: Double): String = {
    val head = obj(Seq(
      "metric" -> q("total"), "value" -> num(s.total), "unit" -> q("sec"),
      "sf" -> q(sf), "passes" -> passes.toString,
      "n_queries" -> s.values.size.toString, "n_failed" -> s.failed.size.toString,
      "n_demoted" -> s.demoted.size.toString, "n_suspect" -> s.suspect.size.toString,
      "wall_sec" -> f"$wallSec%.1f")).dropRight(1) + ",\"queries\":{"
    val entries = mutable.ArrayBuffer[String]()
    var used = head.length + 30 // the tail: },"queries_omitted":NNN}
    s.values.filter(_._2 >= 0).sortBy(-_._2).foreach { case (n, v) =>
      val e = q(n) + ":" + num(v)
      if (used + e.length + 1 <= LineBudget) { entries += e; used += e.length + 1 }
    }
    head + entries.mkString(",") + "},\"queries_omitted\":" +
      (s.values.size - entries.size) + "}"
  }

  def main(args: Array[String]): Unit = {
    // f"" formats with the default locale; a comma-decimal one would
    // break the JSON.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "480").toDouble
    val filter = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILTER", "").split(',')
      .map(_.trim).filter(_.nonEmpty).toSeq
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    val spark = GraftSession.harness("graft-bench", sfDir)
    val sc = spark.sparkContext
    val trace = new Trace
    sc.addSparkListener(trace)
    val hostCores = Runtime.getRuntime.availableProcessors

    val queries = SparkEntry.queries.filter { case (n, _) =>
      filter.isEmpty || filter.exists(n.startsWith) }
    val names = queries.keys.toSeq.sorted
    val records = mutable.Map(names.map(_ -> Record()): _*)
    def best(n: String): Option[Double] = records(n).best.map(_.sec)

    def run(pass: Int, name: String): Unit = {
      val tag = s"$name#$pass"
      val t0 = System.nanoTime()
      val cpu0 = Trace.jvmCpuNs()
      val error = try {
        Trace.tagged(sc, tag) {
          queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      val sec = (System.nanoTime() - t0) / 1e9
      val jvmShare = (Trace.jvmCpuNs() - cpu0) / 1e9 / (sec * hostCores)
      ListenerBus.drain(sc)
      val p = Pass(sec, Trace.sum(trace.take(tag)), jvmShare)
      val r = records(name)
      records(name) = error match {
        case None =>
          System.err.println(f"[bench] pass$pass $name $sec%.3f s tasks=${p.tasks.tasks} " +
            f"task_cpu_share=${p.tasks.cpuShare}%.2f jvm_cpu_share=$jvmShare%.2f" +
            (if (p.stalled) " STALLED" else ""))
          r.copy(passes = r.passes :+ p)
        case Some(m) =>
          System.err.println(s"[bench] pass$pass $name failed: $m")
          r.copy(failed = true)
      }
    }

    names.foreach(run(1, _))
    // A query that failed pass 1 has no best time: it sorts first and
    // gets its retry while budget certainly remains.
    (2 to passes).foreach { i =>
      names.filter(records(_).passes.size < i).sortBy(best(_).getOrElse(0.0))
        .foreach { n =>
          if (elapsed + EstFactor * best(n).getOrElse(0.5) <= budgetSec) run(i, n)
        }
    }

    val summary = summarize(names.map(n => n -> records(n)), passes)
    val full = artifact(summary, sfDir, passes, elapsed)
    // Written before the stdout lines, so a broken pipe cannot lose both.
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_result.json"))
    try {
      Option(out.getParent).foreach(Files.createDirectories(_))
      Files.write(out, (full + "\n").getBytes(UTF_8))
      System.err.println(s"[bench] result written to $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    println(full)
    println(finalLine(summary, sfDir, passes, elapsed))
    spark.stop()
  }
}
