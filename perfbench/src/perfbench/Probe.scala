package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.IpFunctions

object Probe {

  /** Cost of the IPv4 chain the baseline runs per row — `ip4ToNum` →
    * `networkOf` → `numToIp4` — as the median time of a scan plus the chain
    * minus the median time of the same scan alone, per row. The scan reads
    * `hosts` (of `rows` rows) as many times as it takes to pass 500,000
    * rows: with fewer, the difference is mostly per-job noise.
    */
  def ipChainNsPerRow(table: DataFrame, rows: Long, reps: Int = 5): Double = {
    val copies = math.ceil(500000.0 / rows).toInt
    val hosts = Seq.fill(copies)(table).reduce(_ union _)
    val chain = hosts.select(IpFunctions.numToIp4(
      IpFunctions.networkOf(IpFunctions.ip4ToNum(col("host")), 24)).as("net"))
    def secs(df: DataFrame): Double = {
      val t = System.nanoTime()
      Workload.sink(df)
      (System.nanoTime() - t) / 1e9
    }
    secs(hosts); secs(chain)
    val (scan, withChain) = (1 to reps).map(_ => (secs(hosts), secs(chain))).unzip
    (Stats.median(withChain) - Stats.median(scan)) / (rows * copies) * 1e9
  }
}
