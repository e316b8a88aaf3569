package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CountMin

/** Streaming twin of the count-min aggregate (A53): a continuously-
  * maintained CMS grid per group, answering "how often has THIS item
  * been seen so far" for every item as it arrives — the live
  * frequency panel next to the top-k (StreamingHeavyHitters), with a
  * fixed state bound (depth x width longs per group forever, no
  * watermark needed) and point-lookup semantics instead of top-k.
  *
  * The grid hashes through CountMin.hashAt — the SAME function as the
  * batch aggregate and the graft_cms_estimate expression — so a
  * streamed grid and a batch-built grid over the same rows are
  * IDENTICAL arrays (spec-asserted), and the batch estimator can read
  * a checkpointed streaming grid directly. Same guarantees: estimates
  * never undercount, overcount bounded by e * n / width per row with
  * probability 1 - e^-depth.
  *
  * Each micro-batch emits the refreshed estimate for the batch's
  * DISTINCT items (Update mode) plus the group's exact row total.
  * That is why it stays a `flatMapGroupsWithState` fold: it estimates
  * each batch's own items against the cumulative grid, which a
  * streaming aggregation's output cannot carry.
  */
object StreamingCountMin {

  final case class Item(grp: String, item: String)

  final case class Estimate(grp: String, item: String, est: Long, n: Long)

  def estimates(items: Dataset[Item], depth: Int,
      width: Int): Dataset[Estimate] = {
    require(depth > 0 && width > 1, s"invalid depth=$depth width=$width")
    val spark = items.sparkSession
    import spark.implicits._

    // state: grid flattened row-major, plus the exact total in the
    // last slot
    def update(grp: String, it: Iterator[Item],
        state: GroupState[Array[Long]]): Iterator[Estimate] = {
      val buf = state.getOption.getOrElse(new Array[Long](depth * width + 1))
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      it.foreach { r =>
        val key = UTF8String.fromString(r.item)
        var d = 0
        while (d < depth) {
          buf(d * width + CountMin.hashAt(key, d, width)) += 1
          d += 1
        }
        buf(depth * width) += 1
        seen += r.item
      }
      state.update(buf)
      val n = buf(depth * width)
      seen.iterator.map { item =>
        val key = UTF8String.fromString(item)
        var est = Long.MaxValue
        var d = 0
        while (d < depth) {
          val c = buf(d * width + CountMin.hashAt(key, d, width))
          if (c < est) est = c
          d += 1
        }
        Estimate(grp, item, est, n)
      }
    }

    items.groupByKey(_.grp)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
