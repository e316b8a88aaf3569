package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Gap-based sessionization over a stream — the continuous counterpart
  * of the batch lag+cumsum query (AnalyticsQueries.qSessionize), on
  * Spark's native `session_window`: per user, events at most the gap
  * apart (an event exactly one gap after the last joins the session)
  * form one session. State is the open sessions of active users, and a
  * session is emitted (Append mode) once the watermark passes its last
  * event plus the gap, so no state outlives the watermark.
  *
  * Out-of-order events inside the watermark land in the session their
  * time belongs to: one inside the gap extends an open session
  * downward, one more than a gap before it opens an earlier, separate
  * session, as in the batch query. `sum_value` is added in Spark's
  * partial-aggregation order. The state schema is Spark's session
  * state, so a checkpoint written by the former `flatMapGroupsWithState`
  * fold cannot be restored.
  */
object StreamingSessionize {

  final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)

  final case class ClosedSession(
      user_id: Long,
      start_us: Long,
      end_us: Long,
      n_events: Long,
      sum_value: Double)

  /** events (streaming, watermarked here) -> closed sessions.
    * `gapSeconds` is the inactivity gap that splits sessions.
    */
  def sessions(events: DataFrame, gapSeconds: Long,
      watermarkDelay: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select("user_id", "start_us", "end_us", "n_events", "sum_value")
      .as[ClosedSession]
  }
}
