package graft.streaming

import java.math.BigInteger

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Rounding

/** A67s: streaming lag-k autocorrelation — the live twin of
  * `graft.operators.Autocorr.acf`, continuously answering "is this
  * metric still AR-ish / still seasonal at period k?" per series key.
  *
  * Input contract: one row per (key, t) of an already-bucketed series
  * (compose behind a windowed aggregation emitting buckets on
  * watermark close, the A60s pattern); `t` is the bucket index, `x`
  * the integer-ladder value. A repeated (key, t) is counted in
  * `n_dup` and ignored (first wins) — a bucket that can still mutate
  * would retro-change already-folded pairs, which no bounded state
  * can revise.
  *
  * Exactness and state bound: per key the state is the SIX exact
  * pair sums per lag (count in 64-bit, the five value sums in
  * signed-128-bit limb pairs — the Moments discipline, so a product
  * x·y of two hourly micro-sums cannot wrap) plus a ring of the last
  * 2·maxLag buckets. Every pair (t, t+k) folds exactly once — when
  * the LATER-ARRIVING endpoint shows up, checking both directions
  * against the ring — so the fold is ORDER-FREE EXACT for any
  * lateness ≤ maxLag buckets (the partner a late bucket needs is at
  * most 2·maxLag behind the frontier, still in the ring). Later than
  * that is counted in `n_late` and excluded (the A26as horizon
  * discipline: an exact revision would need unbounded history).
  * State per key: 11·|lags| + 2·maxLag + 3 longs, forever.
  *
  * Update mode: each touched key re-emits one row per lag with the
  * current (n_pairs, r) — r computed through the identical
  * integer→double→IEEE→round-6 path as the batch operator, so a
  * stream fed the batch gate's series converges to the batch rows
  * bit-for-bit (spec-pinned).
  */
object StreamingAcf {

  final case class Obs(key: String, t: Long, x: Long)

  final case class AcfRow(key: String, lag: Int, n_pairs: Long,
      r: Option[Double], n_late: Long, n_dup: Long)

  final case class AcfState(maxT: Long, ring: Map[Long, Long],
      sums: Array[Long], nLate: Long, nDup: Long)

  // per-lag limb layout: [0]=n, then (hi,lo) pairs for sx sy sxy sxx syy
  private val LagLongs = 11

  private def add128(buf: Array[Long], p: Int, hi: Long, lo: Long): Unit = {
    val old = buf(p + 1)
    val nl = old + lo
    buf(p + 1) = nl
    val carry = ((old & lo) | ((old | lo) & ~nl)) >>> 63
    // the low limb wraps BY DESIGN (that is the carry mechanism); the
    // high limb must not: a signed-64 overflow of buf(p) + hi + carry
    // is exactly a signed-128 overflow of the accumulator, so use
    // addExact to THROW — loud like the batch operator's
    // NULL-surfaced decimal(38,0) saturation — instead of silently
    // wrapping into a corrupted (plausible-looking) r
    buf(p) = Math.addExact(buf(p), Math.addExact(hi, carry))
  }

  private def addVal(buf: Array[Long], p: Int, v: Long): Unit =
    add128(buf, p, v >> 63, v)

  private def addProd(buf: Array[Long], p: Int, a: Long, b: Long): Unit =
    add128(buf, p, Math.multiplyHigh(a, b), a * b)

  private def cell(buf: Array[Long], p: Int): BigInteger =
    BigInteger.valueOf(buf(p)).shiftLeft(64)
      .add(new BigInteger(1,
        java.nio.ByteBuffer.allocate(8).putLong(buf(p + 1)).array()))

  /** Fold the pair (x at the earlier bucket, y at the later one). */
  private def foldPair(sums: Array[Long], lagIdx: Int, x: Long,
      y: Long): Unit = {
    val b = lagIdx * LagLongs
    sums(b) += 1
    addVal(sums, b + 1, x)
    addVal(sums, b + 3, y)
    addProd(sums, b + 5, x, y)
    addProd(sums, b + 7, x, x)
    addProd(sums, b + 9, y, y)
  }

  /** The batch operator's final expression on the exact sums: every
    * operand converts integer→double exact-to-nearest, then one IEEE
    * expression and the same HALF_UP round-6 Spark's `round` performs.
    */
  private def pearson(sums: Array[Long], lagIdx: Int): (Long, Option[Double]) = {
    val b = lagIdx * LagLongs
    val n = BigInteger.valueOf(sums(b))
    if (sums(b) == 0L) return (0L, None)
    val sx = cell(sums, b + 1); val sy = cell(sums, b + 3)
    val sxy = cell(sums, b + 5)
    val sxx = cell(sums, b + 7); val syy = cell(sums, b + 9)
    val num = n.multiply(sxy).subtract(sx.multiply(sy)).doubleValue()
    val d1 = n.multiply(sxx).subtract(sx.multiply(sx)).doubleValue()
    val d2 = n.multiply(syy).subtract(sy.multiply(sy)).doubleValue()
    val r = if (d1 > 0.0 && d2 > 0.0)
      Some(Rounding.round6(num / (math.sqrt(d1) * math.sqrt(d2))))
    else None
    (sums(b), r)
  }

  def acf(obs: Dataset[Obs], lags: Seq[Int]): Dataset[AcfRow] = {
    require(lags.nonEmpty && lags.forall(_ > 0),
      s"lags must be positive, got $lags")
    require(lags.distinct.size == lags.size, s"duplicate lags in $lags")
    val spark = obs.sparkSession
    import spark.implicits._
    val maxLag = lags.max.toLong
    val lagArr = lags.toArray

    def update(key: String, rows: Iterator[Obs],
        state: GroupState[AcfState]): Iterator[AcfRow] = {
      var st = state.getOption.getOrElse(
        AcfState(Long.MinValue, Map.empty,
          new Array[Long](lagArr.length * LagLongs), 0L, 0L))
      var ring = st.ring
      var maxT = st.maxT
      var nLate = st.nLate
      var nDup = st.nDup
      val sums = st.sums.clone()
      rows.toSeq.sortBy(_.t).foreach { o =>
        if (ring.contains(o.t)) nDup += 1
        else if (maxT != Long.MinValue && o.t <= maxT - maxLag) nLate += 1
        else {
          var i = 0
          while (i < lagArr.length) {
            val k = lagArr(i)
            ring.get(o.t - k).foreach(px => foldPair(sums, i, px, o.x))
            ring.get(o.t + k).foreach(py => foldPair(sums, i, o.x, py))
            i += 1
          }
          ring = ring.updated(o.t, o.x)
          if (o.t > maxT || maxT == Long.MinValue) maxT = o.t
          val floor = maxT - 2 * maxLag
          if (ring.size > 4 * maxLag) ring = ring.filter(_._1 > floor)
        }
      }
      // lazy eviction above keeps the per-row cost O(lags); enforce
      // the documented bound exactly before persisting
      ring = ring.filter(_._1 > maxT - 2 * maxLag)
      state.update(AcfState(maxT, ring, sums, nLate, nDup))
      lagArr.iterator.zipWithIndex.map { case (k, i) =>
        val (n, r) = pearson(sums, i)
        AcfRow(key, k, n, r, nLate, nDup)
      }
    }

    obs.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
