package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Rounding

/** Streaming twin of the OLS trend baseline
  * (graft.operators.Changepoint.trendEvents, R21): a continuously
  * maintained per-key regression from SIX LONGS of state — (first-seen
  * bucket, n, Sx, Sy, Sxy, Sxx with x relative to that first bucket) —
  * no per-bucket history, no window.
  *
  * EXACT under any arrival order, late data included: the moments are
  * order-independent sums, and when a batch brings a bucket EARLIER
  * than the stored origin, the state is re-based in closed form — a
  * shift of every x by d transforms the moments exactly:
  *
  *   Sx' = Sx + d*n,  Sxy' = Sxy + d*Sy,  Sxx' = Sxx + 2d*Sx + d^2*n
  *
  * so replay reproduces the batch coefficients bit-for-bit regardless
  * of batching (the spec pins this, shifted origins included). The one
  * approximation the twin does make: a BUCKET whose events split
  * across micro-batches contributes one (x, y) point per batch — y
  * points are per-batch counts, exact only when bucket boundaries
  * align with batch boundaries (run behind a watermark + windowed
  * count upstream for exact split-bucket parity; documented, same
  * contract family as StreamingEwma's late arm).
  *
  * Emits the refreshed (slope, intercept) per touched key each batch —
  * the identical arithmetic as the batch kernel: long moments, one
  * long->double cast per term, one IEEE division.
  */
// Serializable because the state-update closure calls the object's
// fold/coefficients helpers (shared with the spec's order-invariance
// test), so the task closure captures the module reference.
object StreamingTrend extends Serializable {

  final case class BucketCount(key: String, bucket: Long, y: Long)

  final case class KeyTrend(key: String, n_buckets: Long, slope: Double,
      intercept: Double)

  final case class TrendState(origin: Long, n: Long, sx: Long, sy: Long,
      sxy: Long, sxx: Long)

  /** Fold one (bucket, y) point into the state, re-basing the origin
    * in closed form when an earlier bucket arrives.
    */
  private[streaming] def fold(s: TrendState, bucket: Long,
      y: Long): TrendState = {
    val st =
      if (bucket >= s.origin) s
      else {
        // shift all prior x by d = origin - bucket (exact transform)
        val d = s.origin - bucket
        TrendState(bucket, s.n,
          s.sx + d * s.n,
          s.sy,
          s.sxy + d * s.sy,
          s.sxx + 2 * d * s.sx + d * d * s.n)
      }
    val x = bucket - st.origin
    TrendState(st.origin, st.n + 1, st.sx + x, st.sy + y,
      st.sxy + x * y, st.sxx + x * x)
  }

  private[streaming] def coefficients(s: TrendState): Option[(Double, Double)] = {
    val den = s.n * s.sxx - s.sx * s.sx
    if (den == 0L) None
    else {
      val slope = Rounding.round6(
        (s.n * s.sxy - s.sx * s.sy).toDouble / den.toDouble)
      val intercept = Rounding.round6(
        (s.sy.toDouble - slope * s.sx.toDouble) / s.n)
      Some((slope, intercept))
    }
  }

  def perKey(points: Dataset[BucketCount]): Dataset[KeyTrend] = {
    val spark = points.sparkSession
    import spark.implicits._

    def update(key: String, rows: Iterator[BucketCount],
        state: GroupState[TrendState]): Iterator[KeyTrend] = {
      var s = state.getOption.getOrElse(TrendState(Long.MaxValue, 0, 0, 0, 0, 0))
      rows.foreach { r =>
        s = if (s.n == 0) fold(TrendState(r.bucket, 0, 0, 0, 0, 0), r.bucket, r.y)
            else fold(s, r.bucket, r.y)
      }
      state.update(s)
      coefficients(s) match {
        case Some((slope, intercept)) =>
          Iterator.single(KeyTrend(key, s.n, slope, intercept))
        case None => Iterator.empty
      }
    }

    points
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
