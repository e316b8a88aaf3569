package perfbench

import java.io.File
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.IpFunctions.Cidr

/** Seeded input generators. The same seed gives the same inputs, byte for
  * byte: table rows are pure functions of (seed, row id), partition
  * contents are fixed, and written part files get fixed names.
  */
object Gen {

  /** The 26 traffic counters of a host-metrics row: packets and bits per
    * direction and protocol slice, plus flows per direction.
    */
  val slices: Seq[String] = Seq("", "tcp_", "udp_", "icmp_", "fragmented_", "tcp_syn_")
  val directions: Seq[String] = Seq("incoming", "outgoing")
  val counters: Seq[String] =
    (for (d <- directions; s <- slices; u <- Seq("packets", "bits")) yield s"$s${u}_$d") ++
      directions.map(d => s"flows_$d")

  /** Newest sample time: 2026-01-01T00:00:00Z in epoch micros. */
  val EndMicros: Long = 1767225600000000L
  val DayMicros: Long = 86400L * 1000000L

  // ---- host metrics -------------------------------------------------------

  /** Host universe: `Blocks` /16 blocks × 64 /24s × 64 addresses (.1-.64). */
  val Blocks = 8
  val HostsPerBlock = 64 * 64
  val Hosts: Int = Blocks * HostsPerBlock

  /** Second octets of the populated 10.x.0.0/16 blocks, seed-chosen. */
  def blockOctets(seed: Long): Seq[Int] = new Random(seed).shuffle((16 to 250).toList).take(Blocks + 1)

  /** Third octet of the /24 that holds /24-slot `c` (0..63) of a block:
    * multiples of 3, so /24s at other third octets are empty.
    */
  def thirdOctet(c: Int): Int = c * 3

  /** Hash-derived uniform double in [0, 1) per (seed, key, stream). */
  private def u(seed: Long, key: org.apache.spark.sql.Column, stream: Int) =
    xxhash64(lit(seed), key, lit(stream)).bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit(
      (1L << 53).toDouble)

  /** `rows` samples over ten days (so about 30% fall outside a 7-day
    * window), hosts drawn with a heavy skew, counters correlated the way
    * traffic is: per-host volume, protocol mix, packet size and flow size.
    */
  def hostMetrics(spark: SparkSession, seed: Long, rows: Long, files: Int): DataFrame = {
    val blocks = blockOctets(seed).take(Blocks)
    val h = col("host_idx")
    val b = h % Blocks
    val c = (h / Blocks).cast("long") % 64
    val d = (h / (Blocks * 64)).cast("long") + 1
    val hostNum = lit(10L << 24) +
      element_at(array(blocks.map(x => lit(x.toLong)): _*), (b + 1).cast("int")) * 65536L +
      c * 3L * 256L + d
    val base = spark.range(0, rows, 1, files)
      .withColumn("host_idx", floor(pow(u(seed, col("id"), 1), 2.0) * Hosts).cast("long"))
      .withColumn("host_num", hostNum)
      .withColumn("ts", timestamp_micros(lit(EndMicros) -
        floor(u(seed, col("id"), 2) * (10 * DayMicros)).cast("long")))
      .withColumn("vol", pow(u(seed, h, 10), 3.0) * 99 + 1)
      .withColumn("tcp_share", u(seed, h, 11) * 0.3 + 0.5)
      .withColumn("pkt_size", floor(u(seed, h, 12) * 1436 + 64))
      .withColumn("flow_size", u(seed, h, 13) * 40 + 4)
      .withColumn("r", u(seed, col("id"), 3) * 1.5 + 0.25)
    def packets(dir: String) =
      if (dir == "incoming") floor(col("vol") * col("r") * 1000)
      else floor(col("vol") * col("r") * 1000 * (u(seed, col("id"), 4) * 0.9 + 0.3))
    val withPackets = directions.foldLeft(base) { (acc, dir) =>
      val p = col(s"packets_$dir")
      acc.withColumn(s"packets_$dir", packets(dir).cast("long"))
        .withColumn(s"tcp_packets_$dir", floor(p * col("tcp_share")).cast("long"))
        .withColumn(s"udp_packets_$dir", floor((p - col(s"tcp_packets_$dir")) * 0.8).cast("long"))
        .withColumn(s"icmp_packets_$dir",
          p - col(s"tcp_packets_$dir") - col(s"udp_packets_$dir"))
        .withColumn(s"fragmented_packets_$dir",
          floor(p * 0.01 * u(seed, col("id"), 5)).cast("long"))
        .withColumn(s"tcp_syn_packets_$dir",
          floor(col(s"tcp_packets_$dir") * 0.05 * u(seed, col("id"), 6)).cast("long"))
        .withColumn(s"flows_$dir", floor(p / col("flow_size")).cast("long"))
    }
    val withBits = slices.foldLeft(withPackets) { (acc, s) =>
      directions.foldLeft(acc) { (a, dir) =>
        a.withColumn(s"${s}bits_$dir", col(s"${s}packets_$dir") * col("pkt_size") * 8L)
      }
    }
    val hostStr = concat_ws(".",
      (col("host_num") / 16777216).cast("long"), (col("host_num") / 65536).cast("long") % 256,
      (col("host_num") / 256).cast("long") % 256, col("host_num") % 256)
    withBits.select((Seq(hostStr.as("host"), col("host_num"), col("ts")) ++
      counters.map(col)): _*)
  }

  /** A few hundred CIDRs: /16s over most blocks (plus an empty one), /24s
    * inside populated blocks (overlapping the /16s) and at empty third
    * octets, and /26s inside populated /24s, where only the first two
    * quarters hold hosts. Blocks without a /16 are covered only in part,
    * so some hosts fall outside every network.
    */
  def networks(seed: Long): Seq[Cidr] = {
    val rnd = new Random(seed ^ 0x5deece66dL)
    val octets = blockOctets(seed)
    val blocks = octets.take(Blocks)
    val s16 = blocks.take(5).map(x => s"10.$x.0.0/16") :+ s"10.${octets(Blocks)}.0.0/16"
    val populated = for (x <- blocks; c <- 0 until 64) yield (x, thirdOctet(c))
    val s24full = rnd.shuffle(populated).take(170).map { case (x, t) => s"10.$x.$t.0/24" }
    val s24empty = rnd.shuffle(for (x <- blocks; t <- 0 until 192 if t % 3 != 0) yield (x, t))
      .take(30).map { case (x, t) => s"10.$x.$t.0/24" }
    // quarters in a fixed mix, so every seed covers about as many rows
    val s26 = rnd.shuffle(populated).take(90).zipWithIndex.map { case ((x, t), i) =>
      s"10.$x.$t.${64 * (i % 4)}/26"
    }
    (s16 ++ s24full ++ s24empty ++ s26).distinct.map(Cidr.parse)
  }

  // ---- documents ------------------------------------------------------------

  /** The corpus rows in a seed-permuted order, as `files` parquet files
    * under `<dir>/documents.parquet`.
    */
  def permutedDocuments(spark: SparkSession, source: String, seed: Long, files: Int,
      dir: File): Unit = {
    val src = spark.read.parquet(source)
    val rows = src.collect().sortBy(_.getAs[Long]("doc_id"))
    val permuted = new Random(seed).shuffle(rows.toSeq)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(permuted, files), src.schema)
    writeFixed(df, new File(dir, "documents.parquet"))
  }

  // ---- stream events ------------------------------------------------------

  /** Event-time width of one stream batch (one tumbling window). */
  val BatchMinutes = 10
  /** The host universe moves to fresh /24s every this many batches. */
  val RotateEvery = 3
  val StreamStart: Long = EndMicros - 30L * DayMicros

  /** The stream carries the reference's three threshold counters. */
  val streamCounters: Seq[String] = Seq("packets_incoming", "bits_incoming", "flows_incoming")

  val eventSchema: StructType = StructType(
    Seq(StructField("host", StringType), StructField("ts", TimestampType)) ++
      streamCounters.map(StructField(_, LongType)))

  /** Batch `i` of the stream: `size` events inside window i plus, from
    * the fourth batch on, about 1% late events from three windows back.
    * Returns (on-time rows, late rows).
    */
  def streamBatch(seed: Long, i: Int, size: Int): (Seq[Row], Seq[Row]) = {
    val rnd = new Random(seed * 1000003L + i)
    val winUs = BatchMinutes * 60L * 1000000L
    val epoch = i / RotateEvery
    def event(window: Int): Row = {
      // 48 /24s per universe, advancing 16 /24s per rotation
      val net = epoch * 16 + rnd.nextInt(48)
      val host = s"10.${100 + net / 250}.${net % 250}.${1 + (math.pow(rnd.nextDouble(), 2) * 200).toInt}"
      val ts = new Timestamp((StreamStart + window * winUs + (rnd.nextDouble() * winUs).toLong) / 1000)
      val packets = ((1 + 50 * rnd.nextDouble()) * 1000).toLong
      Row(host, ts, packets, packets * (64 + rnd.nextInt(1436)) * 8, packets / (4 + rnd.nextInt(40)))
    }
    val onTime = Seq.fill(size)(event(i))
    val late = if (i >= 3) Seq.fill(size / 100)(event(i - 3)) else Nil
    (onTime, late)
  }

  // ---- writing --------------------------------------------------------------

  /** Write `df` as parquet with one file per partition under fixed names
    * (part-00000.parquet, ...) and no side files, so equal contents give
    * equal bytes.
    */
  def writeFixed(df: DataFrame, dir: File): Unit = {
    val tmp = new File(dir.getPath + ".tmp")
    df.write.mode("overwrite").parquet(tmp.getPath)
    dir.mkdirs()
    tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).foreach { f =>
        val part = f.getName.substring(5, 10)
        require(f.renameTo(new File(dir, s"part-$part.parquet")), s"rename $f")
      }
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
  }

  def bytesUnder(dir: File): Long =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      .map(f => if (f.isDirectory) bytesUnder(f) else f.length()).sum
}
