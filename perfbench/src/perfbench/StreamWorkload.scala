package perfbench

import java.io.File
import java.time.Instant

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.IpFunctions.Cidr
import graft.operators.{BanSettings, Baseline}
import graft.streaming.{StreamingEwma, StreamingHostgroups}

/** The baseline run incrementally. One seeded generator feeds two memory
  * streams: `StreamingHostgroups.run` (windowed aggregation with state,
  * then hostgroup reconciliation per finalized window) and the
  * `StreamingEwma.perNetwork` state machine. One op appends one batch —
  * one 10-minute window of events, plus late events for the windowed query
  * only — and waits until both queries have processed it.
  */
final class StreamWorkload(spark: SparkSession, seed: Long) extends Workload {
  val batchSize = 2000
  private val cfg = Workload.baselineConfig(Gen.streamCounters)
  private val prefix = 24
  private var dir: File = _
  private var pending: (Seq[Row], Seq[Row]) = (Nil, Nil)
  private var windowed: MemoryStream[Row] = _
  private var ewmaIn: MemoryStream[Row] = _
  private var queries: Seq[StreamingQuery] = Nil
  private val actions = mutable.ArrayBuffer.empty[(Int, Row)]
  private val ewmaState = mutable.Map.empty[String, (Long, Long)]
  @volatile private var currentOp = -1

  /** The stream's events are made per op from the seed, in `prepare`. */
  def generate(d: File): Unit = dir = d

  def sizes: Seq[(String, Any)] = Seq("events_per_batch" -> batchSize,
    "late_per_batch" -> batchSize / 100, "window_minutes" -> Gen.BatchMinutes,
    "rotate_every_batches" -> Gen.RotateEvery, "counters" -> Gen.streamCounters.size)

  override def start(): Unit = {
    val enc = Encoders.row(Gen.eventSchema)
    windowed = MemoryStream[Row](enc, spark)
    ewmaIn = MemoryStream[Row](enc, spark)
    val hostgroups = StreamingHostgroups.run(windowed.toDF(), cfg, prefix,
      windowDuration = s"${Gen.BatchMinutes} minutes", slideDuration = s"${Gen.BatchMinutes} minutes",
      watermarkDelay = "5 minutes", removeExisting = true,
      currentHostgroups = s => { import s.implicits._; Seq("global").toDF("name") },
      applyActions = (_, rows) => actions.synchronized(rows.foreach(r => actions += currentOp -> r)))
    val ewma = StreamingEwma.perNetwork(StreamingEwma.ticks(ewmaIn.toDF(), "host", "ts", prefix))
      .writeStream.outputMode("update")
      .option("checkpointLocation", new File(dir, "ewma-checkpoint").getPath)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamingEwma.NetworkEwma], _: Long) =>
        val rows = ds.collect()
        ewmaState.synchronized(rows.foreach(r => ewmaState(r.network) = (r.last_hour, r.ewma_rate)))
        ()
      }
      .start()
    queries = Seq(hostgroups, ewma)
  }

  override def prepare(index: Int): Unit = pending = Gen.streamBatch(seed, index, batchSize)

  def op(index: Int, rec: Recorder): OpOut = {
    val (onTime, late) = pending
    currentOp = index
    windowed.addData(onTime ++ late)
    ewmaIn.addData(onTime)
    queries.foreach(_.processAllAvailable())
    val made: Int = actions.synchronized(actions.count(_._1 == index))
    OpOut(onTime.size + late.size, None, made.toLong)
  }

  private def events(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Gen.eventSchema)

  /** Op i finalizes window i - 1. Its actions must equal the batch twin:
    * `Baseline.hostgroups` over that window's on-time events, shaped by
    * `BanSettings.fromHostgroups`. The EWMA state at the end must equal
    * `Baseline.ewmaRateAbsolute` over all on-time events; a mismatch there
    * fails every op, since the state is cumulative.
    */
  def check(outs: Seq[(Int, OpOut)]): Seq[Boolean] = {
    queries.foreach(_.stop())
    val shape = Seq("name", "networks", "enable_ban", "ban_for_pps", "ban_for_bandwidth",
      "ban_for_flows", "threshold_pps", "threshold_mbps", "threshold_flows", "payload")
    // every on-time event up to the last op, by window
    val last = outs.map(_._1).max
    val batches = (0 to last).map(w => Gen.streamBatch(seed, w, batchSize)._1)
    // Windows nine or more apart share no /24 (a host universe spans 48
    // /24s and moves 16 every three windows), so one batch twin over the
    // windows w ≡ r (mod 9) gives each of them its own groups, told apart
    // by network. The nine twins run concurrently: each is a small job
    // whose time is mostly planning and stage scheduling.
    val apart = 3 * Gen.RotateEvery
    val threads = Executors.newFixedThreadPool(apart)
    implicit val pool: ExecutionContext = ExecutionContext.fromExecutorService(threads)
    val want = Await.result(Future.sequence(outs.map(_._1 - 1).groupBy(_ % apart).values.map { ws =>
      Future {
        import spark.implicits._
        // the stream names a prefix-derived network by its address alone
        // ("10.1.2.0"), the batch path by its CIDR ("10.1.2.0/24")
        val owner = ws.flatMap(w => batches(w).map(_.getString(0).split('.').take(3).mkString("", ".", ".0"))
          .distinct.map(_ -> (w + 1).toLong))
        val groups = Baseline.hostgroups(events(ws.flatMap(batches)), cfg,
          owner.map(o => Cidr.parse(s"${o._1}/$prefix")))
          .withColumn("network", regexp_replace(col("network"), s"/$prefix$$", ""))
          .withColumn("hostgroup", regexp_replace(col("network"), "\\.", "_"))
        Digest.byKey(BanSettings.fromHostgroups(groups).select(shape.map(col): _*)
          .join(owner.map { case (n, i) => (n.replace('.', '_'), i) }.toDF("name", "op"), "name"), "op")
      }
    }), Duration.Inf).reduce(_ ++ _)
    threads.shutdown()
    val got = {
      val acts = actions.synchronized(actions.toList).filter(_._2.getAs[String]("action") == "create")
      if (acts.isEmpty) Map.empty[Long, Digest]
      else {
        val schema = StructType(shape.map(acts.head._2.schema(_)) :+ StructField("op", LongType))
        Digest.byKey(spark.createDataFrame(acts.map { case (i, r) =>
          Row.fromSeq(shape.map(r.getAs[Any]) :+ i.toLong)
        }.asJava, schema), "op")
      }
    }
    val ewmaWant = Digest.of(Baseline.ewmaRateAbsolute(events(batches.flatten), "host", "ts", prefix)
      .select("network", "last_hour", "ewma_rate"))
    val ewmaGot = {
      import spark.implicits._
      Digest.of(ewmaState.synchronized(ewmaState.toSeq).map { case (n, (h, r)) => (n, h, r) }
        .toDF("network", "last_hour", "ewma_rate"))
    }
    val ewmaOk = ewmaWant == ewmaGot
    if (!ewmaOk) Console.err.println(s"[perfbench] stream EWMA state: got $ewmaGot, want $ewmaWant")
    outs.map { case (i, _) =>
      val ok = ewmaOk && got.get(i.toLong) == want.get(i.toLong)
      if (!ok) Console.err.println(
        s"[perfbench] stream op $i: got ${got.get(i.toLong)}, want ${want.get(i.toLong)}")
      ok
    }
  }

  private def progress: Seq[StreamingQueryProgress] = queries.flatMap(_.recentProgress)

  override def layerMetrics(ops: Seq[Span], rec: Recorder): Map[String, Double] = {
    def at(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli.toDouble
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val inOps = progress.flatMap { p =>
      ops.find(o => at(p) >= o.start - 1 && at(p) <= o.end).map(o => (o, p))
    }
    inOps.foreach { case (o, p) =>
      rec.add(o.op, "streaming.trigger", o.id, at(p), at(p) + d(p, "triggerExecution"))
    }
    val ps = inOps.map(_._2)
    def med(f: StreamingQueryProgress => Double) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    val state = queries.flatMap(q => Option(q.lastProgress)).flatMap(_.stateOperators)
    val n = ops.size.max(1).toDouble
    val opActions: Int = actions.synchronized(actions.count(a => ops.exists(_.op == a._1)))
    val probeRows = (0 until 30).flatMap(b => Gen.streamBatch(seed, b, batchSize)._1)
    val probeDir = new File(dir, "probe.parquet")
    Gen.writeFixed(events(probeRows).select("host").repartition(4), probeDir)
    Map(
      "streaming.trigger_ms" -> med(d(_, "triggerExecution")),
      "streaming.add_batch_ms" -> med(d(_, "addBatch")),
      "streaming.planning_ms" -> med(d(_, "queryPlanning")),
      "streaming.commit_ms" -> med(p => d(p, "walCommit") + d(p, "commitOffsets")),
      "streaming.triggers_per_op" -> ps.size / n,
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).sum,
      "streaming.rows_dropped_by_watermark" -> ps.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark.toDouble).sum / n,
      "streaming.actions_per_op" -> opActions / n,
      "functions.ip_chain_ns_per_row" -> Probe.ipChainNsPerRow(
        spark.read.parquet(probeDir.getPath), probeRows.size.toLong))
  }

  override def close(): Unit = queries.foreach(q => if (q.isActive) q.stop())
}
