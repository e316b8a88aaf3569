package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Rounding

/** R27s: streaming heavy-change — the deltoids question ("which keys'
  * counts changed most between the two most recent windows") asked
  * continuously. The batch operator
  * ([[graft.operators.Changepoint.heavyChange]]) end-anchors its two
  * windows at the GLOBAL max timestamp — well-defined for a finite
  * frame, undefined on an unbounded stream until "now" is picked — so
  * the streaming form uses epoch-aligned TUMBLING buckets (the A5/A60
  * convention): per key, the open bucket's count beside the previous
  * bucket's, delta and smoothed ratio refreshed on every micro-batch.
  * Ranking is one downstream top-k over the latest emit per key (the
  * batch operator's TakeOrderedAndProject stage, unchanged).
  *
  * State per key is FOUR LONGS forever — (open bucket, open count,
  * previous-bucket count, late meter):
  *   - an event for a NEWER bucket rolls the pair (one-bucket gap
  *     keeps the old open count as previous; a larger gap means the
  *     intervening bucket was empty, previous = 0);
  *   - same-bucket events just increment — counts are
  *     order-independent within a bucket, so no seen-watermark is
  *     needed (unlike SCD2/funnel, whose chains are order-sensitive);
  *   - an event for EXACTLY the previous bucket folds into n_prev —
  *     EXACT late handling one bucket deep, free because the state
  *     already holds that window;
  *   - older than that is counted-and-excluded (`n_late`): the window
  *     it belongs to left the state, and only the meter keeps the
  *     emitted delta honest.
  *
  * A key that goes SILENT never rolls (event-driven state): the live
  * table keeps its last delta, and true gone-silent triage needs
  * either the batch operator over a snapshot or a tick source —
  * documented, not faked.
  */
object StreamingHeavyChange {

  final case class KeyEvent(key: String, tsUs: Long)

  final case class KeyDelta(key: String, bucket: Long, n_cur: Long,
      n_prev: Long, delta: Long, ratio: Double, n_late: Long)

  def deltas(events: Dataset[KeyEvent],
      bucketSeconds: Long): Dataset[KeyDelta] = {
    require(bucketSeconds > 0, s"bucketSeconds=$bucketSeconds (want > 0)")
    val spark = events.sparkSession
    import spark.implicits._
    val bucketUs = bucketSeconds * 1000000L

    def update(key: String, rows: Iterator[KeyEvent],
        state: GroupState[(Long, Long, Long, Long)]): Iterator[KeyDelta] = {
      var (bucket, nCur, nPrev, late) =
        state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L))
      rows.foreach { e =>
        val b = Math.floorDiv(e.tsUs, bucketUs)
        if (bucket == Long.MinValue) { bucket = b; nCur = 1L }
        else if (b > bucket) {
          nPrev = if (b == bucket + 1) nCur else 0L
          bucket = b
          nCur = 1L
        }
        else if (b == bucket) nCur += 1
        else if (b == bucket - 1) nPrev += 1
        else late += 1
      }
      state.update((bucket, nCur, nPrev, late))
      // the batch display rounding, so emits compare bit-equal to a
      // DataFrame round() of the same division
      val ratio = Rounding.round6(nCur / (nPrev + 1.0))
      Iterator.single(KeyDelta(key, bucket, nCur, nPrev, nCur - nPrev,
        ratio, late))
    }

    events.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
