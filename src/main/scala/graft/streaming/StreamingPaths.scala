package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A55s: streaming session path analysis — the live twin of the A55
  * batch trigram report ("which sequences actually happen"), split the
  * Spark-first way:
  *
  *   1. [[closedSessions]] is the stateful half: the A6s gap/timeout
  *     session rule of [[StreamingSessionize]] (an event at most the
  *     gap after the open session's last event joins it), but
  *     buffering the open session's (ts, event id, type) rows so a
  *     CLOSED session emits its totally-ordered PATH (sorted by
  *     (ts, id) at close — arrival order inside the session is free).
  *     State per user is one open session's events — bounded by the
  *     gap parameter, not history — with a hard `maxBuffer` cap for
  *     runaway keys (a bot that never pauses): past it, events are
  *     DROPPED AND COUNTED (`n_dropped` rides on the emit, the
  *     honesty-meter discipline) instead of growing state without
  *     bound. A late event more than the gap before the open
  *     session's first event belongs to an earlier, separate session
  *     that the one-session state cannot hold; it is dropped and
  *     counted too, so `n_dropped = 0` means the path is exact. It
  *     stays a fold rather than a `collect_list` under
  *     `session_window`: Spark's session state has no `maxBuffer`
  *     bound.
  *   2. [[trigrams]] is the stateless half: consecutive-trigram
  *     explode over closed paths — row-local, the batch expression
  *     verbatim, safe on the stream. The global (path, n_occ,
  *     n_sessions) report is one downstream aggregation; the spec
  *     pins its equality with the batch
  *     [[graft.operators.Funnel.pathTrigrams]] on in-order replay.
  */
object StreamingPaths extends Serializable {

  final case class PathEvent(user_id: Long, ts: Timestamp, event_id: Long,
      etype: String)

  final case class ClosedPath(user_id: Long, session_start_us: Long,
      path: Seq[String], n_dropped: Long)

  /** Open-session buffer: the kept events, the session's first and
    * last event time, and the drop count (public: the GroupState
    * encoder's generated code needs constructor access).
    */
  final case class OpenBuf(evs: Vector[(Long, Long, String)],
      startUs: Long, endUs: Long, dropped: Long)

  def closedSessions(events: DataFrame, gapSeconds: Long,
      watermarkDelay: String, maxBuffer: Int = 100000)
      : Dataset[ClosedPath] = {
    require(gapSeconds > 0 && maxBuffer > 0,
      s"invalid gap=$gapSeconds maxBuffer=$maxBuffer")
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L

    def closeOf(uid: Long, s: OpenBuf): ClosedPath = {
      val ordered = s.evs.sortBy(e => (e._1, e._2))
      ClosedPath(uid, ordered.head._1, ordered.map(_._3), s.dropped)
    }

    def update(uid: Long, rows: Iterator[PathEvent],
        state: GroupState[OpenBuf]): Iterator[ClosedPath] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(closeOf(uid, s))
      } else {
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var open = state.getOption
        val closed = Seq.newBuilder[ClosedPath]
        sorted.foreach { e =>
          val us = e.ts.getTime * 1000L
          open match {
            case Some(s) if s.startUs - us > gapUs =>
              open = Some(s.copy(dropped = s.dropped + 1))
            case Some(s) if us - s.endUs <= gapUs =>
              open = Some(
                if (s.evs.length >= maxBuffer)
                  s.copy(startUs = math.min(s.startUs, us),
                    endUs = math.max(s.endUs, us), dropped = s.dropped + 1)
                else s.copy(evs = s.evs :+ ((us, e.event_id, e.etype)),
                  startUs = math.min(s.startUs, us),
                  endUs = math.max(s.endUs, us)))
            case Some(s) =>
              closed += closeOf(uid, s)
              open = Some(OpenBuf(Vector((us, e.event_id, e.etype)), us, us, 0L))
            case None =>
              open = Some(OpenBuf(Vector((us, e.event_id, e.etype)), us, us, 0L))
          }
        }
        open.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.endUs / 1000L + gapSeconds * 1000L)
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .as[PathEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** A59s leg: each closed session's DISTINCT event types, one row per
    * (session, type) — row-local, and EXACTLY the frame the batch
    * basket analysis ([[graft.operators.Funnel.basketPairs]]) builds
    * first; the pair/support/lift math is a downstream aggregation
    * over this append stream (spec-pinned equal to the batch report).
    */
  def sessionTypes(closed: Dataset[ClosedPath]): DataFrame =
    closed.toDF().select(col("user_id"), col("session_start_us"),
      explode(array_distinct(col("path"))).as("etype"))

  /** Consecutive event-type trigrams of each closed path — row-local
    * (the batch A55 expression verbatim), one row per occurrence with
    * the session identity for downstream distinct counting.
    */
  def trigrams(closed: Dataset[ClosedPath]): DataFrame =
    closed.toDF()
      .filter(size(col("path")) >= 3)
      .select(col("user_id"), col("session_start_us"),
        explode(expr(
          """transform(sequence(1, size(path) - 2),
            |  i -> concat_ws('>', element_at(path, i),
            |    element_at(path, i + 1), element_at(path, i + 2)))"""
            .stripMargin)).as("path"))
}
