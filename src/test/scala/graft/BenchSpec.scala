package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Pass, Record}
import graft.Trace.Tally
import graft.operators.Par

/** The bench's measurement pieces: [[Trace]]'s per-tag task folding,
  * the stall rule, and the run summary over pass records.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Trace files tasks under their job's tag, Par arms included; untagged jobs are ignored") {
    val sc = spark.sparkContext
    val trace = new Trace
    sc.addSparkListener(trace)
    try {
      Trace.tagged(sc, "plain")(sc.parallelize(1 to 8, 4).count())
      sc.parallelize(1 to 10, 5).count()
      Trace.tagged(sc, "arms") {
        Par.seq(Seq(
          () => sc.parallelize(1 to 6, 3).count(),
          () => sc.parallelize(1 to 4, 2).count()))
      }
      ListenerBus.drain(sc)
      val plain = trace.take("plain")
      assert(plain.size == 1)
      assert(Trace.sum(plain).tasks == 4)
      val arms = trace.take("arms")
      assert(arms.size == 2)
      assert(Trace.sum(arms).tasks == 5)
      assert(Trace.sum(arms).runMs >= 0 && Trace.sum(arms).cpuNs > 0)
    } finally sc.removeSparkListener(trace)
  }

  // Shares as measured on a 4-core host with sf0.1 passes: alone, task
  // shares 0.34-0.77 with JVM shares 0.80-0.96 (JIT compilers filling
  // the cores); beside 4 busy loops, task shares 0.20-0.43 with JVM
  // shares 0.41-0.55.
  private def pass(taskShare: Double, jvmShare: Double, gcShare: Double = 0.0) =
    Pass(1.0, Tally(tasks = 8, runMs = 1000, cpuNs = (taskShare * 1e9).toLong,
      gcMs = (gcShare * 1000).toLong), jvmShare)

  test("stall rule: quiet passes are clean, loaded passes are stalled, zero-task passes are clean") {
    assert(!pass(0.37, 0.81).stalled)    // quiet, JIT-bound
    assert(!pass(0.95, 0.20).stalled)    // quiet, scheduler-bound: idle cores
    assert(!pass(0.77, 0.90).stalled)    // quiet
    assert(pass(0.42, 0.55).stalled)     // loaded
    assert(pass(0.21, 0.44).stalled)     // loaded
    assert(!pass(0.40, 0.30, gcShare = 0.35).stalled) // GC counts as on CPU
    assert(!Pass(0.2, Tally(), 0.05).stalled)         // no task ran: no evidence
    assert(Tally().cpuShare == 1.0)
  }

  private val mapper = new ObjectMapper

  test("summary: min of passes, failures listed and out of the total, demotion labels, suspects") {
    val quiet = Tally(tasks = 4, runMs = 1000, cpuNs = 900000000L)
    val loaded = Tally(tasks = 4, runMs = 1000, cpuNs = 300000000L)
    def p(sec: Double, t: Tally = quiet) = Pass(sec, t, 0.5)
    val s = Bench.summarize(Seq(
      "a" -> Record(Seq(p(2.0, loaded), p(1.5))),
      "b" -> Record(Seq(p(3.0)), failed = true),
      "c" -> Record(Seq(p(0.7))),
      "d" -> Record(),
      "e" -> Record(failed = true),
      "f" -> Record(Seq(p(1.0, loaded), p(2.0)))), passes = 2)
    assert(s.values == Seq("a" -> 1.5, "b" -> 3.0, "c" -> 0.7, "d" -> -1.0, "e" -> -1.0, "f" -> 1.0))
    assert(math.abs(s.total - 3.2) < 1e-9)
    assert(s.failed == Seq("b", "e"))
    assert(s.demoted == Seq("c" -> "ran_1_of_2_passes", "d" -> "no_pass"))
    assert(s.suspect == Seq("f"))

    val full = mapper.readTree(Bench.artifact(s, "/data/sf0.1", 2, 12.0))
    Seq("metric", "value", "unit", "queries", "sf", "passes", "failed", "budget_demoted",
      "default_stat", "suspect", "task_cpu_share", "jvm_cpu_share", "wall_sec")
      .foreach(k => assert(full.has(k), k))
    assert(full.get("value").asDouble == 3.2)
    assert(full.get("queries").get("e").asDouble == -1.0)
    assert(full.get("budget_demoted").get("c").asText == "ran_1_of_2_passes")
    assert(full.get("suspect").get(0).asText == "f")
  }

  test("the final stdout line stays within 1500 bytes and keeps the slowest values") {
    val records = (1 to 300).map(i =>
      f"a_rather_long_registered_query_name_$i%03d" -> Record(Seq(Pass(i.toDouble, Tally(), 1.0))))
    val line = Bench.finalLine(Bench.summarize(records, 1), "/data/sf0.1", 1, 600.0)
    assert(line.getBytes("UTF-8").length <= 1500)
    val json = mapper.readTree(line)
    assert(json.get("n_queries").asInt == 300)
    val kept = json.get("queries")
    assert(kept.has("a_rather_long_registered_query_name_300"))
    assert(json.get("queries_omitted").asInt == 300 - kept.size)
  }
}
