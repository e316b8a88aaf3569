package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{IpFunctions, Rounding}

/** Streaming twin of the parametric z-score anomaly scorer
  * (graft.operators.Baseline.zscoreAnomaly, R23) — the cheapest live
  * anomaly scorer: the batch kernel's history moments collapse to one
  * long + two decimal(38,0)-class accumulators per network
  * (n, Σx, Σx²), so scoring a micro-batch is O(batch) with
  * O(distinct networks) state and no window storage at all.
  *
  * Contract: each micro-batch plays the role of the batch kernel's
  * CURRENT window for the keys it touches — scored against the
  * accumulated history (all prior batches), THEN folded into it. So a
  * replay of (history slice, current slice) reproduces
  * `Baseline.zscoreAnomaly` on the combined frame exactly: the same
  * micro-unit values, the same integer cross-multiplied deciding
  * inequality (BigInt here, decimal(38,0) there — identical values in
  * the batch kernel's documented exactness range, and BigInt never
  * overflows where the batch path raises), the same one-IEEE-op
  * display columns (round-6 after one cast + divisions per term).
  *
  * State shape: Σx and Σx² ride as BigInt (encoded decimal(38,0)) to
  * mirror the batch accumulators — a long Σx² twin would wrap/halt at
  * 2^63 micro-units² while the batch decimal path keeps going, and
  * value² per row already reaches 10^18 at value ≈ 1500.
  */
object StreamingZscore {

  final case class Obs(key: String, v6: Long)

  final case class KeyZscore(key: String, n_hist: Long, n_current: Long,
      mean_value: Double, std_value: Double, current_avg: Double,
      is_anomaly: Int)

  final case class ZState(n: Long, sx: BigInt, sxx: BigInt)

  /** (network, micro-unit value) observations from a raw
    * (host, value, ts) stream — the identical key and micro-unit
    * expressions the batch kernel applies (windowing is the caller's
    * job on a stream: filter/window upstream to the slice being
    * scored).
    */
  def observations(events: DataFrame, hostCol: String, valueCol: String,
      prefix: Int): Dataset[Obs] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("key", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .withColumn("v6", round(col(valueCol) * 1e6).cast("long"))
      .select(col("key"), col("v6"))
      .as[Obs]
  }

  def perKey(obs: Dataset[Obs], kNum: Long, kDen: Long): Dataset[KeyZscore] = {
    val spark = obs.sparkSession
    import spark.implicits._

    def update(key: String, rows: Iterator[Obs],
        state: GroupState[ZState]): Iterator[KeyZscore] = {
      val vs = rows.map(_.v6).toArray
      val m = vs.length.toLong
      val sc = vs.foldLeft(BigInt(0))(_ + _)
      val st = state.getOption.getOrElse(ZState(0L, BigInt(0), BigInt(0)))
      val out =
        if (st.n > 0 && m > 0) {
          val n = st.n
          // the batch kernel's exact deciding path, verbatim:
          //   varNum = n*Σx² − (Σx)², devNum = Σc*n − Σx*m,
          //   anomaly ⟺ devNum²·kDen² > kNum²·m²·varNum
          val varNum = BigInt(n) * st.sxx - st.sx * st.sx
          val devNum = sc * n - st.sx * m
          val flag = devNum * devNum * (BigInt(kDen) * kDen) >
            BigInt(kNum) * kNum * m * m * varNum
          Iterator.single(KeyZscore(key, n, m,
            Rounding.round6(st.sx.toDouble / n / 1e6),
            Rounding.round6(math.sqrt(varNum.toDouble) / n / 1e6),
            Rounding.round6(sc.toDouble / m / 1e6),
            if (flag) 1 else 0))
        } else Iterator.empty
      val sxx2 = vs.foldLeft(BigInt(0))((a, v) => a + BigInt(v) * BigInt(v))
      state.update(ZState(st.n + m, st.sx + sc, st.sxx + sxx2))
      out
    }

    obs
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }
}
