package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{BanSettings, Baseline}
import graft.operators.Baseline.BaselineConfig

/** The reference's ENTIRE cron loop as one continuous query
  * (/root/reference/main.go:96-208): read events → trailing-window
  * baseline per network → threshold expressions → ban-settings
  * payloads → reconcile against the deployment's current hostgroups →
  * remove/create API actions. The reference re-reads a week of history
  * per tick; here the windowed aggregation is incremental and each
  * trigger only reconciles the windows the watermark just finalized.
  */
object StreamingHostgroups {

  /** Start the continuous reconciliation. Per trigger with finalized
    * windows: the newest finalized window per network becomes a
    * hostgroup (named by [[Baseline.hostgroupName]], thresholds
    * applied, payload rendered),
    * [[BanSettings.lifecyclePlan]] diffs those against
    * `currentHostgroups` (the reference's GetAllHostgroups read), and
    * the ordered action rows go to `applyActions` — one row per API
    * call, collected because an API-calling sink is driver-side by
    * nature. Triggers with no finalized window are no-ops (the batch
    * reference regenerates groups every tick; a stream only acts when
    * a window closes).
    *
    * The finalized windows are collected once per trigger. Spark
    * re-executes a `foreachBatch` DataFrame for every action on it, so
    * an emptiness check followed by the plan's collect ran the stateful
    * stage twice and reported each evicted window twice in the state
    * metrics. The collect brings at most the rows this trigger
    * finalizes to the driver: about one window per network in steady
    * state, so O(hostgroups), the same bound as the action rows. The
    * reconciliation then runs over those rows as a one-partition local
    * frame, so neither the newest-window `Window` nor the final
    * `orderBy` plans a shuffle.
    *
    * Group names diverge from the batch pipeline's: streaming networks
    * are bare addresses ([[StreamingBaseline.perNetwork]]), so a /24
    * group is `10_100_0_0` here and `10_100_0_0_24` in
    * [[Baseline.hostgroups]] and the reference.
    */
  def run(
      events: DataFrame,
      cfg: BaselineConfig,
      prefix: Int,
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String,
      removeExisting: Boolean,
      currentHostgroups: SparkSession => DataFrame,
      applyActions: (Long, Seq[Row]) => Unit): StreamingQuery = {
    val windows = StreamingBaseline.perNetwork(events, cfg, prefix,
      windowDuration, slideDuration, watermarkDelay)
    windows.writeStream
      .outputMode("append") // only watermark-finalized windows reach the batch
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val finalized = batch.collect()
        if (finalized.nonEmpty) {
          val spark = batch.sparkSession
          // several windows can finalize in one trigger; the newest one
          // per network is the group's current baseline
          val newest = Window.partitionBy(col("network"))
            .orderBy(col("window.start").desc)
          val latest = spark.createDataFrame(finalized.toSeq.asJava, batch.schema)
            .coalesce(1)
            .withColumn("__rn", row_number().over(newest))
            .filter(col("__rn") === 1)
            .withColumn("hostgroup", Baseline.hostgroupName(col("network")))
          val generated = BanSettings.fromHostgroups(latest)
          val plan = BanSettings.lifecyclePlan(
            generated, currentHostgroups(spark), removeExisting)
          // the remove rows come from currentHostgroups, in whatever
          // partitioning it has; one partition keeps the sort local
          applyActions(batchId,
            plan.coalesce(1).orderBy("step", "action", "name").collect().toSeq)
        }
        ()
      }
      .start()
  }
}
