package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Extra args beyond (sfDir, outDir) are query names: when present,
  * only those queries run and only their oracle SQL is dumped — the
  * local spot-check path (e.g. the 10 heaviest queries at sf0.1)
  * without paying the full 87-query tour. The driver passes exactly
  * two args, so its behavior is unchanged. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only.contains(name)
    // Bench's session settings (GraftSession.local), but without its
    // `graft.load.repartition`: scans keep the files' own partitioning.
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Persist shared inputs once — every query's identical subplan hits
    // the plan cache instead of rebuilding the 5-way fact join.
    try {
      import graft.sources.Tables
      Seq(Tables.analiseComercial(spark, sfDir),
        Tables.classificacaoProdutos(spark, sfDir),
        Tables.documents(spark, sfDir),
        Tables.embeddings(spark, sfDir))
        .foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count())
    } catch { case e: Throwable =>
      System.err.println(s"[verify] input warmup failed (continuing): ${e.getMessage}")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
