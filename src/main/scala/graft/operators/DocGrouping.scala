package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The per-document grouping step an operator ends in — the one place
  * a batch operator and its streaming serving entry differ. Batch
  * groups by document ([[DocGrouping.ByDoc]]); the stream groups by
  * event-time window plus document under a watermark
  * ([[DocGrouping.ByWindow]]), so state is evicted once the watermark
  * passes a window. An operator body written against this type serves
  * both modes: it reads its input through [[source]], carries
  * [[keys]] through every projection and groups on them, and
  * everything between (tokenize, explode, model join, integer sums) is
  * one code path — batch/stream parity by construction.
  */
private[graft] sealed trait DocGrouping {

  /** The input, with the window key attached when streaming. The
    * watermark sits at the source, so an arrival whose rows all drop
    * downstream (no tokens, no match) still advances it.
    */
  def source(df: DataFrame): DataFrame

  /** `cols` preceded by the grouping's extra key columns (none by
    * document; the window `__window` when streaming).
    */
  def keys(cols: Column*): Seq[Column]

  /** Per-`cols` occurrence counts `m`. By document this is a real
    * pre-aggregate (scoring work scales with distinct keys, not
    * occurrences); in a stream it would be a second stateful stage,
    * so every occurrence stays one row with `m = 1` — the sums over `m`
    * downstream are the same integers either way.
    */
  def counts(df: DataFrame, cols: Column*): DataFrame

  /** True for the stream, where every stage before the grouping must
    * stay stateless (no distinct, no self-join).
    */
  def streaming: Boolean
}

private[graft] object DocGrouping {

  case object ByDoc extends DocGrouping {
    def source(df: DataFrame): DataFrame = df
    def keys(cols: Column*): Seq[Column] = cols
    def counts(df: DataFrame, cols: Column*): DataFrame =
      df.groupBy(cols: _*).agg(count(lit(1)).as("m"))
    def streaming: Boolean = false
  }

  /** Tumbling `windowDur` windows of `tsCol`, under a `watermark`
    * delay. The window column `__window` keeps the watermark's event-time
    * metadata as it is carried, so grouping on it evicts state.
    */
  final case class ByWindow(tsCol: String, watermark: String, windowDur: String)
      extends DocGrouping {
    def source(df: DataFrame): DataFrame =
      df.withWatermark(tsCol, watermark).withColumn("__window", window(col(tsCol), windowDur))
    def keys(cols: Column*): Seq[Column] = col("__window") +: cols
    def counts(df: DataFrame, cols: Column*): DataFrame =
      df.select(keys(cols: _*) :+ lit(1L).as("m"): _*)
    def streaming: Boolean = true
  }
}
