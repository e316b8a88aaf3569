package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Baseline

/** The paper's own job: trailing 7-day window → network assignment by
  * broadcast range join → `avg` over 26 counters → 26 threshold rules →
  * hostgroups. One op is one `Baseline.hostgroups` call on a fresh read of
  * the generated table, written to the noop sink.
  */
final class HostgroupsWorkload(spark: SparkSession, seed: Long) extends Workload {
  val rows = 20000L
  val files = 4
  private val cfg = Workload.baselineConfig(Gen.counters)
  private val networks = Gen.networks(seed)
  private var dir: File = _

  def generate(d: File): Unit = {
    dir = new File(d, "host_metrics.parquet")
    Gen.writeFixed(Gen.hostMetrics(spark, seed, rows, files), dir)
  }

  def sizes: Seq[(String, Any)] = Seq("rows" -> rows, "files" -> files,
    "bytes" -> Gen.bytesUnder(dir), "networks" -> networks.size, "host_universe" -> Gen.Hosts,
    "counters" -> Gen.counters.size)

  def op(index: Int, rec: Recorder): OpOut = {
    val table = rec.phase("sources.load")(spark.read.parquet(dir.getPath))
    val groups = rec.phase("operators.build")(Baseline.hostgroups(table, cfg, networks))
    val observed = Digest.observe(groups)
    if (rec.tracing) rec.phase("plans.plan")(observed.df.queryExecution.executedPlan)
    rec.phase("operators.exec")(Workload.sink(observed.df))
    val d = observed.result()
    OpOut(rows, Some(d), d.rows)
  }

  /** Plain Spark SQL twin of the job: it assigns networks from the
    * generator's numeric host column (no IPv4 parsing) and spells the
    * aggregation and threshold arithmetic out by hand.
    */
  def twin(): Digest = {
    spark.read.parquet(dir.getPath).createOrReplaceTempView("pb_hosts")
    import spark.implicits._
    networks.map(c => (c.networkString, c.start, c.end)).toDF("network", "lo", "hi")
      .createOrReplaceTempView("pb_nets")
    val metrics = Gen.counters.sorted
    val avgs = metrics.map(m =>
      s"CAST(floor(CAST(round(sum(CAST($m AS DECIMAL(28,10))), 6) AS DOUBLE) / count($m)) AS BIGINT) AS $m")
    spark.sql(
      s"""SELECT n.network, count(1) AS n_rows, ${avgs.mkString(", ")}
         |FROM pb_hosts h JOIN pb_nets n ON h.host_num BETWEEN n.lo AND n.hi
         |WHERE h.ts >= (SELECT max(ts) FROM pb_hosts) - INTERVAL 604800 SECONDS
         |GROUP BY n.network""".stripMargin).createOrReplaceTempView("pb_base")
    val thresholds = Gen.counters.flatMap { m =>
      val r = Workload.rule(m)
      val raw = r.expression.replace("value", m)
      val scaled = s"CAST(floor(($raw) / ${r.divisor}) AS BIGINT)"
      Seq(s"CASE WHEN $scaled > 0 THEN $scaled END AS ${r.outName}",
        s"$scaled > 0 AS ${r.outName}_active")
    }
    Digest.of(spark.sql(
      s"""SELECT network, n_rows, ${metrics.mkString(", ")}, ${thresholds.mkString(", ")},
         |replace(replace(network, '.', '_'), '/', '_') AS hostgroup
         |FROM pb_base""".stripMargin))
  }

  def check(outs: Seq[(Int, OpOut)]): Seq[Boolean] = {
    val want = twin()
    outs.map { case (i, o) =>
      val ok = o.digest.contains(want)
      if (!ok) Console.err.println(s"[perfbench] hostgroups op $i: got ${o.digest.orNull}, want $want")
      ok
    }
  }

  override def layerMetrics(ops: Seq[Span], rec: Recorder): Map[String, Double] =
    Map("functions.ip_chain_ns_per_row" -> Probe.ipChainNsPerRow(
      spark.read.parquet(dir.getPath).select(col("host")), rows))
}
