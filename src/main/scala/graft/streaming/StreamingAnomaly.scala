package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions

/** Continuous counterpart of the batch MAD anomaly scorer
  * (graft.operators.Baseline.madAnomaly): the robust profile
  * (median/MAD per network) is trained OFFLINE by the batch operator;
  * the live stream is scored against it with a stream-static join —
  * the deployment split real detectors use (profiles refresh on a
  * schedule, scoring never stops).
  *
  * State is one windowed aggregation bounded by the watermark; the
  * static profile is broadcast per micro-batch — O(networks), never
  * stream-sized.
  */
object StreamingAnomaly {

  /** `events` streaming, `profile` static with (network, med, mad).
    * Emits one row per (window, network) with the decimal-exact
    * window average and the `|avg - med| * kDen > kNum * mad` flag.
    */
  def score(
      events: DataFrame,
      profile: DataFrame,
      hostCol: String,
      valueCol: String,
      tsCol: String,
      prefix: Int,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String,
      kNum: Long,
      kDen: Long): DataFrame = {
    val cur = events
      .withWatermark(tsCol, watermarkDelay)
      .withColumn("network", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .groupBy(window(col(tsCol), windowDuration, slideDuration),
        col("network"))
      .agg(count(lit(1)).as("n_current"),
        // the SAME decimal-exact avg contract as the batch scorer —
        // one definition, zero drift between train and serve
        graft.operators.Baseline.aggFor("avg")(col(valueCol))
          .as("current_avg"))
    cur.join(broadcast(profile), "network")
      .select(col("window"), col("network"), col("n_current"),
        round(col("current_avg"), 6).as("current_avg"),
        col("med"), col("mad"),
        (abs(round(col("current_avg"), 6) - col("med")) * kDen >
          lit(kNum) * col("mad")).as("is_anomaly"))
  }
}
