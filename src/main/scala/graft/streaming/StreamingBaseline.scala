package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions
import graft.operators.Baseline
import graft.operators.Baseline.BaselineConfig

/** R9 (SURVEY.md §2.1): the reference recomputes baselines on a cron
  * (whole-tool semantics of /root/reference/main.go) — a batch rescan
  * of the trailing window every run. Spark-first, that is a Structured
  * Streaming job: the same declarative aggregation over a sliding event
  * -time window, with a watermark bounding state. One stream, no
  * rescans, incremental partial aggregation — at 100 TB/day this is the
  * difference between re-reading a week of history per cron tick and
  * maintaining O(networks x windows) state.
  */
object StreamingBaseline {

  /** Continuous per-network baseline over sliding event-time windows.
    * Input must be a streaming DataFrame (spark.readStream...). Output
    * schema: window(start,end), network, n_rows, metric columns, plus
    * threshold columns from cfg.rules — identical semantics to the
    * batch [[Baseline.hostgroups]] on the window's slice of events.
    */
  def perNetwork(
      events: DataFrame,
      cfg: BaselineConfig,
      prefix: Int,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String): DataFrame = {
    val ipNum = IpFunctions.ip4ToNum(col(cfg.hostCol))
    val net = IpFunctions.numToIp4(IpFunctions.networkOf(ipNum, prefix))
    val aggs = cfg.metrics.toSeq.sortBy(_._1).map { case (name, c) =>
      Baseline.toInt64(Baseline.aggFor(cfg.aggregationFunction)(c)).as(name)
    }
    val base = events
      .withWatermark(cfg.tsCol, watermarkDelay)
      .withColumn("network", net)
      .groupBy(
        window(col(cfg.tsCol), windowDuration, slideDuration),
        col("network"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    Baseline.thresholdColumns(Baseline.Projection(base), cfg.rules).toDF
  }
}
