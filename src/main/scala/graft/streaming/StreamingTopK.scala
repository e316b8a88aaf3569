package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, posexplode}

import graft.functions.TopK

/** Streaming twin of the exact top-k-by-value aggregate
  * (`graft.functions.TopKAgg`): a continuously maintained per-group
  * leaderboard with a bounded k-element heap of state per group no
  * matter how long the stream runs — the live "top flows / largest
  * documents" panel next to the batch aggregate.
  *
  * It IS the batch aggregate, run as a Spark streaming aggregation:
  * `groupBy(grp).agg(TopK.topK(value, id, k))`, whose partial buffer
  * (the k-element heap) is the per-group state. So the ordering
  * contract, (value DESC, id ASC) on null-free input (the batch doc
  * spells out the null/NaN normalization contract), and the eviction
  * arithmetic are one definition for both modes. The spec pins
  * stream == batch on identical input across micro-batch splits.
  *
  * Every micro-batch re-emits each touched group's refreshed
  * leaderboard (Update mode), one row per position. The state schema
  * is the aggregate's buffer, so a checkpoint written by the former
  * `flatMapGroupsWithState` form cannot be restored.
  */
object StreamingTopK {

  final case class Scored(grp: String, id: Long, value: Double)

  final case class TopRow(grp: String, pos: Int, id: Long, value: Double)

  def topK(rows: Dataset[Scored], k: Int): Dataset[TopRow] = {
    require(k > 0, s"invalid k=$k")
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupBy(col("grp"))
      .agg(TopK.topK(col("value"), col("id"), k).as("top"))
      .select(col("grp"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("grp"), col("pos"), col("e.id").as("id"),
        col("e.value").as("value"))
      .as[TopRow]
  }

  /** Column-name adapter from a raw frame. */
  def topK(df: DataFrame, grpCol: String, idCol: String, valueCol: String,
      k: Int): Dataset[TopRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    topK(df.select(col(grpCol).cast("string").as("grp"),
      col(idCol).cast("long").as("id"),
      col(valueCol).cast("double").as("value")).as[Scored], k)
  }
}
