package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions

/** Streaming twin of the percentile baseline
  * (graft.operators.Baseline.percentileByPrefix): the p95-style
  * ban threshold recomputed continuously per network over sliding
  * event-time windows.
  *
  * An EXACT percentile needs the window's full population — state
  * linear in the data, which a stream must not hold. The streaming
  * form therefore uses the mergeable quantile sketch
  * (approx_percentile, state bounded by `accuracy` per group) — the
  * same exact-offline/sketch-online split the batch side already
  * documents (Baseline.percentileByPrefix for exact reporting,
  * qSketchQuantile as the constant-memory companion), deployed: train
  * the exact thresholds offline on history, watch the live tail with
  * the sketch. Rank error is bounded by n/accuracy
  * (Greenwald-Khanna); under `accuracy` rows per group the sketch
  * holds every value and is EXACT — the regime the parity spec pins,
  * mirroring the heavy-hitters under-k contract.
  */
object StreamingPercentile {

  /** Continuous per-network approximate percentile over sliding
    * event-time windows. `fraction` in (0, 1]; `accuracy` trades
    * state for rank error exactly as the batch sketch does. Output:
    * window(start, end), network, n_events, p_value.
    */
  def perNetwork(
      events: DataFrame,
      hostCol: String,
      valueCol: String,
      tsCol: String,
      fraction: Double,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String,
      prefix: Int,
      accuracy: Int = 10000): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"invalid fraction $fraction")
    events
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("network", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .groupBy(
        window(col(tsCol), windowDuration, slideDuration),
        col("network"))
      .agg(
        count(lit(1)).as("n_events"),
        percentile_approx(col(valueCol), lit(fraction), lit(accuracy))
          .as("p_value"))
  }
}
