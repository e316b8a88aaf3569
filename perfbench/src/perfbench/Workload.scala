package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Baseline.{BaselineConfig, ThresholdRule}

/** What one op reports back: input rows it consumed, the digest of its
  * result when the op checks itself (None when the check runs after the
  * measured phase), and whether it threw.
  */
final case class OpOut(inputRows: Long, digest: Option[Digest], resultRows: Long,
    threw: Boolean = false)

/** A benchmark workload: seeded inputs, one untimed warm-up op,
  * closed-loop ops, and a check of every timed op.
  */
trait Workload {
  /** Generate the inputs into `dir` (a fresh directory each call). */
  def generate(dir: File): Unit
  /** Input sizes, printed with the metrics. */
  def sizes: Seq[(String, Any)]
  /** Called once after the inputs exist, before the warm-up. */
  def start(): Unit = ()
  /** Called before each op, outside its timing. */
  def prepare(index: Int): Unit = ()
  /** Fewest timed ops. With 28, the tail percentile (ten ops beyond it) is
    * p64.3 or higher.
    */
  def minOps: Int = 28
  /** The timed op count is a multiple of this (a whole query cycle). */
  def opMultiple: Int = 1
  def op(index: Int, rec: Recorder): OpOut
  /** Whether each timed op's result is correct, in op order. Runs after
    * the measured phase, untimed.
    */
  def check(outs: Seq[(Int, OpOut)]): Seq[Boolean]
  /** Workload-specific per-layer metrics for traced runs. */
  def layerMetrics(ops: Seq[Span], rec: Recorder): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workload {

  /** The reference's job configuration: the default `avg` aggregation over
    * the given counters, a 7-day trailing window, and the README's threshold
    * rules — `value * 2` for packets, `value * 3` in mbps for bits,
    * `value + 200` for flows. The three total-incoming counters keep the
    * reference's threshold names, which the ban-settings payload reads.
    */
  def baselineConfig(counters: Seq[String]): BaselineConfig = BaselineConfig(
    hostCol = "host", tsCol = "ts", windowSeconds = 7L * 24 * 3600,
    aggregationFunction = "avg",
    metrics = counters.map(c => c -> col(c)).toMap,
    rules = counters.map(c => rule(c)))

  private val referenceNames = Map(
    "packets_incoming" -> "threshold_pps",
    "bits_incoming" -> "threshold_mbps",
    "flows_incoming" -> "threshold_flows")

  def rule(metric: String): ThresholdRule = {
    val out = referenceNames.getOrElse(metric, s"${metric}_threshold")
    if (metric.contains("bits")) ThresholdRule(metric, "value * 3", out, divisor = 1048576L)
    else if (metric.startsWith("flows")) ThresholdRule(metric, "value + 200", out)
    else ThresholdRule(metric, "value * 2", out)
  }

  /** The noop sink: every projected column is computed, nothing is kept. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def create(name: String, spark: SparkSession, seed: Long, dataDir: File): Workload =
    name match {
      case "hostgroups" => new HostgroupsWorkload(spark, seed)
      case "dedup" => new DedupWorkload(spark, seed, dataDir)
      case "stream" => new StreamWorkload(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}
