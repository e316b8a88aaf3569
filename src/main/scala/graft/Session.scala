package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Materializer

/** The SparkSession every graft main runs on, and the two environment
  * inputs the mains share:
  *
  *   - `SPARK_GRAFT_CONF="k=v;k2=v2"`: conf entries applied at builder
  *     time after graft's defaults, so they override them and static
  *     keys (`spark.eventLog.*`) take effect too;
  *   - `SPARK_GRAFT_ONLY=q_a,q_b`: the `SparkEntry.queries` subset to
  *     run (unset or blank runs them all).
  *
  * Both are validated before any session starts: a malformed entry, an
  * unknown `graft.*` key or an unknown query name fails the run instead
  * of silently changing it.
  */
object Session {

  type Query = (SparkSession, String) => DataFrame

  /** A local session on `cpus` cores with graft's extensions, UTC and no
    * UI; `overrides` (a main's own defaults) and then SPARK_GRAFT_CONF
    * are applied on top, later entries winning.
    */
  def local(cpus: String, logLevel: String = "WARN",
      overrides: Seq[(String, String)] = Nil): SparkSession = {
    val spark = settings(cpus, overrides, sys.env.get("SPARK_GRAFT_CONF"))
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Every builder entry `local` applies, in order. */
  private[graft] def settings(cpus: String, overrides: Seq[(String, String)],
      graftConf: Option[String]): Seq[(String, String)] =
    Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++
      overrides ++ graftConf.toSeq.flatMap(parseConf)

  /** `k=v;k2=v2` → entries; empty segments are skipped and a value may
    * itself contain `=`. The only `graft.*` key graft reads is
    * [[graft.operators.Materializer.ConfKey]]; any other (a removed
    * knob, a typo) fails instead of being silently ignored.
    */
  private[graft] def parseConf(raw: String): Seq[(String, String)] =
    raw.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, _) if k.trim.startsWith("graft.") &&
            k.trim != Materializer.ConfKey =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv': graft reads no conf key " +
              s"'${k.trim}' (the only graft.* key is ${Materializer.ConfKey})")
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }

  /** The validated SPARK_GRAFT_ONLY names; None = every query. */
  def only(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"),
      known: collection.Set[String] = SparkEntry.queries.keySet): Option[Set[String]] =
    raw.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
      .map { names =>
        val unknown = names -- known
        require(unknown.isEmpty, "SPARK_GRAFT_ONLY names no SparkEntry query: " +
          unknown.toSeq.sorted.mkString(","))
        names
      }

  /** The queries a main runs, sorted by name. */
  def queries(only: Option[Set[String]]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
}
