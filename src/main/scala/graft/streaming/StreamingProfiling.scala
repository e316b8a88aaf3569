package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{bin, col, count, length, lit, posexplode}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.HeavyHitters

/** Streaming twins of the batch profiling audit (graft.operators
  * .Profiling) — the live drift detectors a pipeline runs NEXT TO the
  * batch audit so a partition/salt decision made at deploy time keeps
  * getting re-checked as the stream's shape moves:
  *
  *   - [[keySkew]]: sharded top talkers + exact per-shard row totals,
  *     a Spark streaming aggregation. Per-key exact counting over an
  *     unbounded stream needs unbounded state; the salt-or-not decision
  *     only needs the HOT keys. Each shard's state is its row count and
  *     an `approx_top_k_accumulate` sketch, read each micro-batch and
  *     cut to k by [[graft.functions.HeavyHitters.topOfSketch]]
  *     (count DESC, key ASC):
  *     counts are EXACT while a shard's distinct keys fit the sketch's
  *     capacity (`HeavyHitters.MaxItemsTracked`, also the largest k),
  *     whatever k is. Sharding by key hash keeps state and per-batch
  *     work distributed, and a key's counts never split across shards.
  *   - [[histogram]]: per-group bounded value histogram with EXACT
  *     min/max state. Equi-width bins over an evolving [min, max]
  *     cannot be maintained directly (old rows cannot be re-binned),
  *     so the state holds at most `maxBins` (centroid, count) bins,
  *     merging the closest adjacent pair on overflow — the streaming
  *     histogram of Ben-Haim & Yom-Tov (JMLR 11, 2010), the same
  *     device behind streaming decision trees. While a group's
  *     distinct-value count stays <= maxBins every bin is a real value
  *     with an exact count, so the batch equi-width histogram is
  *     reconstructible bin-for-bin ([[toEquiWidthBin]] — asserted
  *     against Profiling.histogram in the spec); past that the
  *     histogram degrades gracefully to weighted centroids with exact
  *     total mass and exact range. It stays a fold: Spark's
  *     `histogram_numeric` does not combine equal centroids when it
  *     merges partial histograms (40 rows of 3 distinct values in 4
  *     partitions gave 12 bins, `x = 0.0` four times), so it cannot
  *     keep one exact bin per distinct value.
  *
  * Both emit their group's refreshed summary per micro-batch (Update
  * mode); state is bounded by construction, so no watermark is needed.
  * The key-skew state schema is the sketch, so a checkpoint written by
  * the former Misra-Gries fold cannot be restored.
  */
object StreamingProfiling {

  // ---------------------------------------------------------------- keySkew

  final case class Keyed(key: String)

  /** One row per retained (shard, key): the key's count, the shard's
    * exact row total, and the batch audit's integer log2 bucket for the
    * count (floor(log2 n) via bit length — Profiling.keySkew's
    * `length(bin(n)) - 1`, never a float log).
    */
  final case class SkewItem(shard: Int, pos: Int, key: String,
      count: Long, shardRows: Long, bucket: Int)

  def keySkew(rows: Dataset[Keyed], k: Int, nShards: Int): Dataset[SkewItem] = {
    require(k > 0, s"invalid k=$k")
    require(nShards > 0, s"invalid nShards=$nShards")
    val spark = rows.sparkSession
    import spark.implicits._
    rows.map(r => (math.floorMod(r.key.hashCode, nShards), r.key))
      .toDF("shard", "key")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("shardRows"),
        HeavyHitters.accumulate(col("key")).as("sketch"))
      .select(col("shard"), col("shardRows"),
        posexplode(HeavyHitters.topOfSketch(col("sketch"), k)).as(Seq("pos", "e")))
      .select(col("shard"), col("pos"), col("e.item").as("key"),
        col("e.count").as("count"), col("shardRows"),
        (length(bin(col("e.count"))) - 1).as("bucket"))
      .as[SkewItem]
  }

  // -------------------------------------------------------------- histogram

  final case class Valued(grp: String, v: Double)

  /** One row per (group, bin): weighted centroid + mass, with the
    * group's exact running min/max and row total alongside (the state
    * every consumer needs to rebin or normalize).
    */
  final case class HistBin(grp: String, pos: Int, centroid: Double,
      count: Long, mn: Double, mx: Double, nRows: Long)

  // bins sorted by centroid; parallel arrays keep the state row flat
  final case class GState(mn: Double, mx: Double, nRows: Long,
      centroids: Array[Double], counts: Array[Long])

  def histogram(rows: Dataset[Valued], maxBins: Int): Dataset[HistBin] = {
    require(maxBins >= 2, s"need >= 2 bins, got $maxBins")
    val spark = rows.sparkSession
    import spark.implicits._

    def update(grp: String, it: Iterator[Valued],
        state: GroupState[GState]): Iterator[HistBin] = {
      val prev = state.getOption.getOrElse(
        GState(Double.PositiveInfinity, Double.NegativeInfinity, 0L,
          Array.empty, Array.empty))
      var mn = prev.mn
      var mx = prev.mx
      var nRows = prev.nRows
      val cs = mutable.ArrayBuffer.empty[Double]
      val ns = mutable.ArrayBuffer.empty[Long]
      cs ++= prev.centroids
      ns ++= prev.counts

      def insert(v: Double): Unit = {
        // binary search over the sorted centroids
        var lo = 0
        var hi = cs.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cs(mid) < v) lo = mid + 1 else hi = mid
        }
        if (lo < cs.length && cs(lo) == v) ns(lo) += 1
        else { cs.insert(lo, v); ns.insert(lo, 1L) }
        if (cs.length > maxBins) {
          // merge the closest adjacent pair (leftmost on ties) into
          // its count-weighted mean — Ben-Haim & Yom-Tov's collapse
          var best = 0
          var bestGap = Double.PositiveInfinity
          var i = 0
          while (i < cs.length - 1) {
            val gap = cs(i + 1) - cs(i)
            if (gap < bestGap) { bestGap = gap; best = i }
            i += 1
          }
          val m = ns(best) + ns(best + 1)
          cs(best) = (cs(best) * ns(best) + cs(best + 1) * ns(best + 1)) / m
          ns(best) = m
          cs.remove(best + 1)
          ns.remove(best + 1)
        }
      }

      it.foreach { r =>
        nRows += 1
        if (r.v < mn) mn = r.v
        if (r.v > mx) mx = r.v
        insert(r.v)
      }
      state.update(GState(mn, mx, nRows, cs.toArray, ns.toArray))
      cs.indices.iterator.map(i =>
        HistBin(grp, i, cs(i), ns(i), mn, mx, nRows))
    }

    rows.groupByKey(_.grp)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }

  /** The batch audit's equi-width bin index for a centroid — the
    * IDENTICAL IEEE expression as Profiling.histogram's bin column
    * (clamp to the last bin at v = mx; single-valued groups bin 0), so
    * in the exact regime (distinct values <= maxBins) rebinning the
    * emitted state reproduces the batch histogram bin-for-bin.
    */
  def toEquiWidthBin(v: Double, mn: Double, mx: Double, nBins: Int): Int =
    if (mx == mn) 0
    else math.min(nBins - 1, math.floor((v - mn) * nBins / (mx - mn)).toInt)
}
