package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.IpFunctions

/** Streaming twin of the CUSUM changepoint
  * (graft.operators.Changepoint.cusumSeries, R20): the batch closed
  * form `s_i = P_i - min(0, min_{j<=i} P_j)` maintains ONLINE with
  * three longs of state per key — (current bucket, prefix sum P before
  * the current bucket, running min of P before the current bucket) —
  * plus the current bucket's accumulated count, so a bucket whose
  * events split across micro-batches re-emits its REFRESHED cusum
  * instead of double-subtracting the allowance (the recurrence charges
  * k once per BUCKET, not once per arrival — the obvious fold gets
  * this wrong).
  *
  * Ordering contract: buckets are processed in bucket order within
  * each micro-batch; a bucket OLDER than the key's current bucket
  * (cross-batch late data) folds its count into the current bucket —
  * mass is never dropped, at the cost of charging it at the current
  * position (run the stream behind a watermark sized to the acceptable
  * lag for exact parity). In-order replay reproduces the batch
  * operator bucket-for-bucket (the spec pins this, split buckets
  * included).
  *
  * State boundedness: O(distinct keys) x 4 longs, keys = networks
  * (config-sized universe). Update mode.
  */
object StreamingCusum {

  final case class Tick(key: String, bucket: Long)

  final case class KeyCusum(key: String, bucket: Long, x: Long,
      cusum: Long, alarm: Int)

  /** (network, hourly bucket) ticks from a raw (host, ts) stream —
    * the same expressions the batch query uses.
    */
  def ticks(events: DataFrame, hostCol: String, tsCol: String,
      prefix: Int, bucketSeconds: Long): Dataset[Tick] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("key", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("bucket",
        expr(s"__us div ${bucketSeconds * 1000000L}"))
      .select(col("key"), col("bucket"))
      .as[Tick]
  }

  def perKey(ticksDs: Dataset[Tick], allowance: Long,
      threshold: Long): Dataset[KeyCusum] = {
    val spark = ticksDs.sparkSession
    import spark.implicits._

    // state: (curBucket, xAcc in curBucket, P before curBucket,
    //         min-P before curBucket)
    def update(key: String, rows: Iterator[Tick],
        state: GroupState[(Long, Long, Long, Long)]): Iterator[KeyCusum] = {
      var init = state.exists
      var (cur, xAcc, cumPrev, minPrev) =
        state.getOption.getOrElse((0L, 0L, 0L, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[KeyCusum]
      def emit(): Unit = {
        val cum = cumPrev + xAcc - allowance
        val s = cum - math.min(0L, math.min(minPrev, cum))
        out += KeyCusum(key, cur, xAcc, s, if (s >= threshold) 1 else 0)
      }
      rows.toSeq.groupBy(_.bucket).toSeq.sortBy(_._1).foreach {
        case (b, br) =>
          val n = br.size.toLong
          if (!init) { init = true; cur = b; xAcc = n }
          else if (b >= cur + 1) {
            // finalize the open bucket into the prefix state
            emit()
            val cum = cumPrev + xAcc - allowance
            minPrev = math.min(minPrev, cum)
            cumPrev = cum
            cur = b; xAcc = n
          } else xAcc += n // same bucket, or late: fold into current
      }
      emit()
      state.update((cur, xAcc, cumPrev, minPrev))
      out.iterator
    }

    ticksDs
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
