package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.sketch.CountMinSketch

import graft.functions.CountMin

/** Streaming twin of the count-min aggregate (A53): a continuously-
  * maintained count-min sketch per group, answering "how often has
  * THIS item been seen so far" for every item as it arrives — the live
  * frequency panel next to the top-k (StreamingHeavyHitters), with a
  * fixed state bound (depth x width longs per group forever, no
  * watermark needed) and point-lookup semantics instead of top-k.
  *
  * The state is Spark's `CountMinSketch`, serialized:
  * `CountMinSketch.create(depth, width, CountMin.Seed)`, then `addString`
  * per item. That is the object `count_min_sketch` builds for
  * [[CountMin.sketch]], so a streamed sketch and a batch-built sketch
  * over the same rows are EQUAL, their estimates match
  * estimate-for-estimate (spec-asserted), and [[CountMin.estimate]]
  * can read a streamed sketch directly. Same guarantees: estimates
  * never undercount, overcount bounded by 2n / width with probability
  * 1 - 2^-depth.
  *
  * Each micro-batch emits the refreshed estimate for the batch's
  * DISTINCT items (Update mode) plus the group's exact row total, the
  * sketch's `totalCount`. That is why it stays a
  * `flatMapGroupsWithState` fold: it estimates each batch's own items
  * against the cumulative sketch, which a streaming aggregation's
  * output cannot carry. The state schema is the sketch's bytes, so a
  * checkpoint written by the former long-grid fold cannot be restored.
  */
object StreamingCountMin {

  final case class Item(grp: String, item: String)

  final case class Estimate(grp: String, item: String, est: Long, n: Long)

  def estimates(items: Dataset[Item], depth: Int,
      width: Int): Dataset[Estimate] = {
    require(depth > 0 && width > 1, s"invalid depth=$depth width=$width")
    val spark = items.sparkSession
    import spark.implicits._

    def update(grp: String, it: Iterator[Item],
        state: GroupState[Array[Byte]]): Iterator[Estimate] = {
      val sk = state.getOption.map(CountMinSketch.readFrom)
        .getOrElse(CountMinSketch.create(depth, width, CountMin.Seed))
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      it.foreach { r => sk.addString(r.item); seen += r.item }
      state.update(sk.toByteArray)
      seen.iterator.map(item =>
        Estimate(grp, item, sk.estimateCount(item), sk.totalCount))
    }

    items.groupByKey(_.grp)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
