package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.IpFunctions

/** Streaming twin of the decayed event-rate baseline
  * (`Baseline.ewmaRate` / `ewmaRateAbsolute`, R19): a continuously
  * maintained per-network EWMA with TWO LONGS of state per network —
  * (current hour index, decayed rate) — no matter how long the stream
  * runs. The recurrence is the batch kernel's, all-integer:
  *
  *   - same hour:   s += n
  *   - newer hour:  s = (s >> min(63, gap)) + n   (one shift decays
  *                  every skipped empty hour — iterated halving)
  *   - older hour (late data): the CONTRIBUTION arrives pre-decayed,
  *     s += n >> min(63, lag). Exactly the batch fold when rows are
  *     in hour order (the spec pins cross-batch parity); for
  *     out-of-order rows it is the linearized approximation — integer
  *     halving of a sum is not the sum of halvings — bounded by 1 per
  *     halving level, the documented trade for never reversing decay.
  *
  * Rows are processed in hour order WITHIN each micro-batch (sorted in
  * the update function), so only cross-batch lateness meets the
  * late-row arm; run the stream behind a watermark sized to the
  * acceptable lag. Update mode: every batch re-emits each touched
  * network's refreshed (last_hour, ewma_rate).
  *
  * State boundedness: O(distinct networks) entries of 16 bytes — the
  * network universe is config-sized (the reference's networks list),
  * worst-case the seen /24 space. No timeout is wired because none is
  * semantically needed: a network idle for >= 63 hours has a state
  * that shifts to zero on its next event anyway, so a deployment that
  * wants eviction can add a GroupStateTimeout with no result change.
  */
object StreamingEwma {

  final case class Tick(network: String, hourIdx: Long)

  final case class NetworkEwma(network: String, last_hour: Long,
      ewma_rate: Long)

  /** Derive (network, hourIdx) ticks from a raw (host, ts) stream with
    * the same expressions the batch kernel uses.
    */
  def ticks(events: DataFrame, hostCol: String, tsCol: String,
      prefix: Int): Dataset[Tick] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("network", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("hourIdx",
        expr(s"__us div ${3600L * 1000000L}"))
      .select(col("network"), col("hourIdx"))
      .as[Tick]
  }

  def perNetwork(ticksDs: Dataset[Tick]): Dataset[NetworkEwma] = {
    val spark = ticksDs.sparkSession
    import spark.implicits._

    def update(network: String, rows: Iterator[Tick],
        state: GroupState[(Long, Long)]): Iterator[NetworkEwma] = {
      // Initialization is state.exists, NOT a negative-hour sentinel:
      // epoch-hour indexes are legitimately negative for pre-1970
      // timestamps, and a sentinel would silently reset (instead of
      // decay) the state on the row after any such hour.
      var init = state.exists
      var (curH, s) = state.getOption.getOrElse((0L, 0L))
      // fold per (hour, count) in hour order — the batch kernel's walk
      rows.toSeq.groupBy(_.hourIdx).toSeq.sortBy(_._1).foreach {
        case (h, hr) =>
          val n = hr.size.toLong
          if (!init) { init = true; curH = h; s = n }
          else if (h == curH) s += n
          else if (h > curH) {
            s = (s >> math.min(63L, h - curH).toInt) + n
            curH = h
          } else s += n >> math.min(63L, curH - h).toInt
      }
      state.update((curH, s))
      Iterator.single(NetworkEwma(network, curH, s))
    }

    ticksDs
      .groupByKey(_.network)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
