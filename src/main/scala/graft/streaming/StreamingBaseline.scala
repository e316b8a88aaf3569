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
    * threshold columns from cfg.rules — the batch [[Baseline.hostgroups]]
    * aggregate and thresholds on the window's slice of events, with one
    * difference: `network` is the bare network address (`10.100.0.0`),
    * not the batch twin's `10.100.0.0/24`, so a hostgroup named from it
    * reads `10_100_0_0` where the batch pipeline and the reference name
    * the same group `10_100_0_0_24`.
    */
  def perNetwork(
      events: DataFrame,
      cfg: BaselineConfig,
      prefix: Int,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String): DataFrame = {
    val base = Baseline.metricAggregate(events
      .withWatermark(cfg.tsCol, watermarkDelay)
      .withColumn("network", IpFunctions.prefixNetwork(col(cfg.hostCol), prefix))
      .groupBy(
        window(col(cfg.tsCol), windowDuration, slideDuration),
        col("network")), cfg)
    Baseline.thresholdColumns(Baseline.Projection(base), cfg.rules).toDF
  }
}
