package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK

import org.apache.spark.sql.graft.ColumnBridge

/** Bounded top-k AGGREGATE — the scale-correct alternative to a
  * per-group `row_number()` window for "k best rows per key".
  *
  * Why an aggregate and not a window: `row_number().over(partitionBy
  * (key))` gives NO partial aggregation — the entire input shuffles on
  * `key` and each post-shuffle partition sorts ALL of its group's rows
  * on a single task. `collect_top_k` is a TypedImperativeAggregate
  * (bounded binary heap of size k), so the map side combines first:
  * only ≤ k survivors per (map partition × key) ride the shuffle, the
  * reduce side merges k-heaps, and nothing ever sorts more than k
  * elements. At a billion-row group that is the difference between a
  * billion-row single-task sort and |partitions| × k rows of shuffle.
  */
object TopK {

  /** The k SMALLEST values of `key` under its natural (ascending,
    * nulls-first) ordering, returned as an array sorted best-first.
    *
    * Encode "best" as ascending-smallest in the key: for a DESC
    * ranking on a numeric `x`, pass `-x`; break ties by appending
    * more struct fields (lexicographic struct ordering). NOTE a null
    * struct FIELD sorts FIRST (smallest) — filter nulls out upstream
    * when the window equivalent would have ranked them last.
    */
  def smallestK(key: Column, k: Int): Column =
    ColumnBridge.column(
      new CollectTopK(ColumnBridge.expression(key), k, reverse = true, 0, 0)
        .toAggregateExpression())
}
