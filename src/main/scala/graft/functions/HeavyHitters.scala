package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{array_sort, call_function, lit, slice, when}

/** Heavy hitters on Spark's `approx_top_k` sketch family: the top k
  * most frequent items of a column per group, the sketch counterpart
  * of an exact groupBy(item).count().orderBy.limit(k), which shuffles
  * every distinct item. The batch form calls `approx_top_k`; the
  * streaming twins ([[graft.streaming.StreamingHeavyHitters]] and
  * `StreamingProfiling.keySkew`) keep an [[accumulate]] sketch as
  * their aggregation state and read it with [[topOfSketch]]. All pass
  * through [[top]].
  *
  * Range: counts are EXACT while a group's distinct items fit the
  * sketch's capacity ([[MaxItemsTracked]], Spark's default
  * `maxItemsTracked`), whatever k is; per-group state is bounded by
  * that capacity, not by k. Past it the sketch purges and counts
  * become estimates. A NULL item counts as an item.
  *
  * Ties: with a plain `approx_top_k(c, k)`, which tied items survive
  * the cut, and their order, depend on input order. So the sketch is
  * asked for every tracked item and [[top]] sorts by (count DESC,
  * item ASC) before slicing to k — the same rows as
  * `ORDER BY n DESC, item` over exact counts.
  */
object HeavyHitters {

  /** The sketch's tracked-item capacity, and so the largest k. */
  val MaxItemsTracked: Int = 10000

  /** Column-level entry: top-k heavy hitters of a string column, typed
    * `array<struct<item: string, count: bigint>>` with nullable
    * elements and fields (`approx_top_k` declares them non-null), so
    * the schema callers and written files see stays what this
    * function has always declared.
    */
  def heavyHitters(c: Column, k: Int): Column =
    top(call_function("approx_top_k", c, lit(MaxItemsTracked),
      lit(MaxItemsTracked)), k)
      .cast("array<struct<item:string,count:bigint>>")

  /** Streaming-aggregation state for `c`: an `approx_top_k_accumulate`
    * sketch tracking [[MaxItemsTracked]] items. */
  def accumulate(c: Column): Column =
    call_function("approx_top_k_accumulate", c, lit(MaxItemsTracked))

  /** The first k items of an [[accumulate]] sketch by
    * (count DESC, item ASC). */
  def topOfSketch(sketch: Column, k: Int): Column =
    top(call_function("approx_top_k_estimate", sketch, lit(MaxItemsTracked)), k)

  /** The first k of a sketch's array<struct<item, count>> by
    * (count DESC, item ASC).
    */
  def top(items: Column, k: Int): Column = {
    require(k > 0 && k <= MaxItemsTracked,
      s"heavy hitters: k=$k (want 1..$MaxItemsTracked)")
    slice(array_sort(items, (a, b) =>
      when(a("count") > b("count"), -1).when(a("count") < b("count"), 1)
        .when(a("item") < b("item"), -1).when(a("item") > b("item"), 1)
        .otherwise(0)), 1, k)
  }
}
