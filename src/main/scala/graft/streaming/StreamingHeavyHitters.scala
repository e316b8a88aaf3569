package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, posexplode}

import graft.functions.HeavyHitters

/** Streaming counterpart of the heavy-hitters aggregate
  * (graft.functions.HeavyHitters): a continuously-maintained top-k of
  * a string column per group — the live "top talkers / top tokens"
  * panel next to the batch sketch.
  *
  * A Spark streaming aggregation: the per-group state is Spark's
  * `approx_top_k_accumulate` sketch, read each micro-batch with
  * `approx_top_k_estimate` and cut to k by the batch's own
  * [[HeavyHitters.top]], so both modes rank (count DESC, item ASC).
  * Counts are EXACT while a group's distinct items fit the sketch's
  * capacity (`HeavyHitters.MaxItemsTracked`), whatever k is (asserted
  * against the batch aggregate in the spec). State per group is
  * bounded by that capacity, not by k; the output is capped at k.
  *
  * Each micro-batch emits the touched groups' refreshed top lists
  * (Update mode). The state schema is the sketch, so a checkpoint
  * written by the former Misra-Gries `flatMapGroupsWithState` form
  * cannot be restored.
  */
object StreamingHeavyHitters {

  final case class Item(grp: String, item: String)

  final case class TopItem(grp: String, pos: Int, item: String, count: Long)

  def topK(items: DataFrame, k: Int): Dataset[TopItem] = {
    val spark = items.sparkSession
    import spark.implicits._
    items.as[Item].groupBy(col("grp"))
      .agg(HeavyHitters.accumulate(col("item")).as("sketch"))
      .select(col("grp"),
        posexplode(HeavyHitters.topOfSketch(col("sketch"), k)).as(Seq("pos", "e")))
      .select(col("grp"), col("pos"), col("e.item").as("item"),
        col("e.count").as("count"))
      .as[TopItem]
  }
}
