package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes [[Baseline.hostgroups]] output as FastNetMon
  * ban-settings payloads — the exact structure the reference posts to
  * the FastNetMon API (fastnetmon-go Ban_settings_t, reference
  * main.go:338-437): name, networks, enable_ban, ban_for_* flags and
  * threshold_* values, with deactivated thresholds omitted.
  *
  * A user of the reference switches by feeding `payload` to their API
  * client; everything upstream (scan -> window -> aggregate ->
  * thresholds) already ran distributed, and the JSON rendering itself
  * is a codegen'd to_json projection, not driver-side work.
  */
object BanSettings {

  /** hostgroups frame -> one ban-settings row per network, plus the
    * JSON payload column.
    */
  def fromHostgroups(hg: DataFrame): DataFrame = {
    val has = hg.columns.toSet
    def thr(name: String) =
      if (has(name)) col(name) else lit(null).cast("long")
    def active(name: String) =
      if (has(s"${name}_active")) coalesce(col(s"${name}_active"), lit(false))
      else lit(false)
    val shaped = hg.select(
      col("hostgroup").as("name"),
      array(col("network")).as("networks"),
      lit(true).as("enable_ban"),
      active("threshold_pps").as("ban_for_pps"),
      active("threshold_mbps").as("ban_for_bandwidth"),
      active("threshold_flows").as("ban_for_flows"),
      thr("threshold_pps").as("threshold_pps"),
      thr("threshold_mbps").as("threshold_mbps"),
      thr("threshold_flows").as("threshold_flows"))
    shaped.withColumn("payload",
      to_json(struct(shaped.columns.map(col).toIndexedSeq: _*)))
  }

  /** Hostgroup lifecycle plan — the reference's reconciliation loop
    * (main.go:153-208) as a declarative diff of `generated` (the
    * [[fromHostgroups]] output, or anything with a `name` column)
    * against `current` (the deployment's existing hostgroup names).
    *
    * removeExisting=true: every current group except `global` is
    * removed, then every generated group is created (the reference's
    * RemoveExistingHostgroups sweep). removeExisting=false: only
    * same-named current groups are removed first (overwrite-by-name;
    * the reference issues a tolerated-failure removal for EVERY
    * generated name — the plan keeps just the removals that exist,
    * the no-op ones having no effect).
    *
    * Output: (step, action, name) with step 0 = remove, 1 = create —
    * consumers apply in step order. Generated payload columns (if
    * present) ride along on create rows.
    */
  def lifecyclePlan(generated: DataFrame, current: DataFrame,
      removeExisting: Boolean): DataFrame = {
    val extras = generated.columns.filter(_ != "name").toSeq
    val cur = current.select(col("name"))
    val removals =
      if (removeExisting) cur.filter(col("name") =!= "global")
      else cur.join(generated.select(col("name")), Seq("name"), "left_semi")
    // one projection pads the remove rows with typed nulls (this runs
    // once per finalizing trigger in StreamingHostgroups' foreachBatch,
    // over that trigger's collected windows as a one-partition frame)
    removals.select(
        Seq(lit(0).as("step"), lit("remove").as("action"), col("name")) ++
          extras.map(c => lit(null).cast(generated.schema(c).dataType).as(c)): _*)
      .unionByName(generated.select(
        Seq(lit(1).as("step"), lit("create").as("action"), col("name")) ++
          extras.map(col): _*))
  }
}
