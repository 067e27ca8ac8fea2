package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (`plans/r17/<query>_<tag>.txt`).
  *
  * Usage:
  *   sbt "runMain graft.tools.PlanDump <outDir> <tag> <q1> [q2 ...]"
  *   sbt "runMain graft.tools.PlanDump plans/r17 before dedup_minhash"
  *
  * `SPARK_GRAFT_SF_DIR` selects the data (default sf0.1). The session
  * is Bench's ([[GraftSession.harness]]), so the dumped plan is the one
  * the bench actually runs (the CacheManager substitutes InMemoryRelation
  * leaves exactly as in the timed run). The dump calls explain on the
  * UNEXECUTED frame (AQE initial plan): Exchange placement, join
  * strategy, PushedFilters and ReadSchema — the properties the round's
  * claims cite — are all visible there.
  *
  * NOTE: eager operators (dedup pair pipelines) compute their result in
  * the builder; their dumped plan is the post-checkpoint read, and the
  * interesting plan is inside the builder. For those the per-stage
  * numbers come from [[graft.Diag]] instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query> [query ...]")
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness("graft-plandump", sfDir)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val path = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(path, txt)
      System.err.println(s"[plandump] wrote $path (${txt.length} chars)")
    }
    spark.stop()
  }
}
