package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{count_min_sketch, lit, udf}
import org.apache.spark.util.sketch.CountMinSketch

/** Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) on
  * Spark's `count_min_sketch`: approximate per-item frequency with
  * depth x width longs of state — the frequency counterpart of A10's
  * HLL distinct. Where the heavy hitters (`approx_top_k`) answer
  * "which items are hot", CMS answers "how often is THIS item seen"
  * for any item, without shuffling the distinct-item set: a 100 TB
  * scan aggregates to one serialized `CountMinSketch` per group
  * (mergeable, map-side combinable), and lookups are O(depth) reads
  * against the broadcast-sized result.
  *
  * Guarantees (no deletions): estimate >= true count always;
  * estimate <= true + 2n / width with probability >= 1 - 2^-depth —
  * the banded self-check the gate asserts. Every sketch is seeded
  * with [[Seed]], so a sketch built here equals
  * `CountMinSketch.create(depth, width, Seed)` fed the same items: the
  * streaming twin ([[graft.streaming.StreamingCountMin]]) keeps that
  * object as its state, and its estimates equal [[estimate]]'s.
  *
  * SQL: `count_min_sketch(col, eps, confidence, seed)` builds the
  * sketch; `graft_cms_estimate(sketch, item)` reads it.
  */
object CountMin {

  /** The hash seed of every graft count-min sketch. */
  val Seed: Int = 0

  /** Aggregate a column into a depth x width Spark count-min sketch
    * (binary). Spark sizes the grid as ceil(2 / eps) x
    * ceil(-log2(1 - confidence)); the half steps keep both ceilings
    * on the asked size, where eps = 2.0 / width turns width 49 into
    * 50.
    */
  def sketch(c: Column, depth: Int, width: Int): Column = {
    require(depth > 0 && width > 1, s"invalid depth=$depth width=$width")
    count_min_sketch(c, lit(2.0 / (width - 0.5)),
      lit(1.0 - math.pow(2.0, 0.5 - depth)), lit(Seed))
  }

  /** Point estimate for `item` against a [[sketch]] result: the min of
    * its depth counters; null when the sketch or the item is null. */
  def estimate(sketchCol: Column, item: Column): Column =
    estimateUdf(sketchCol, item)

  private val estimateUdf = udf((sk: Array[Byte], item: String) =>
    if (sk == null || item == null) null
    else java.lang.Long.valueOf(CountMinSketch.readFrom(sk).estimateCount(item)))
}
