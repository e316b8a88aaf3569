package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSuite
import graft.operators.Baseline.{BaselineConfig, ThresholdRule}

/** The reference's cron loop (baseline → hostgroups → remove/create
  * API actions) as one continuous query: each watermark-finalized
  * window triggers a reconciliation against the current hostgroups.
  */
class StreamingHostgroupsSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val cfg = BaselineConfig(
    hostCol = "host", tsCol = "ts", aggregationFunction = "avg",
    metrics = Map("packets_incoming" -> col("value")),
    rules = Seq(ThresholdRule("packets_incoming", "value * 2", "threshold_pps")))

  /** Starts the reconciliation of a fresh event stream over 10-minute
    * tumbling windows against the fixed `current` group names; every
    * `applyActions` call is recorded as (batch id, action rows).
    */
  private def reconcile(watermarkDelay: String, removeExisting: Boolean,
      current: Seq[String])
      : (MemoryStream[Ev], StreamingQuery, mutable.Buffer[(Long, Seq[Row])]) = {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val mem = MemoryStream[Ev]
    val applied = mutable.Buffer.empty[(Long, Seq[Row])]
    val query = StreamingHostgroups.run(
      mem.toDF(), cfg, prefix = 24,
      windowDuration = "10 minutes", slideDuration = "10 minutes",
      watermarkDelay = watermarkDelay, removeExisting = removeExisting,
      currentHostgroups = s => {
        import s.implicits._
        current.toDF("name")
      },
      applyActions = (id, rows) => applied.synchronized(applied += id -> rows))
    (mem, query, applied)
  }

  private def steps(rows: Seq[Row]): Seq[(Int, String, String)] =
    rows.map(r => (r.getAs[Int]("step"), r.getAs[String]("action"), r.getAs[String]("name")))

  test("finalized windows drive remove/create hostgroup actions") {
    val (mem, query, applied) = reconcile("0 seconds", removeExisting = true,
      Seq("global", "stale_group"))
    try {
      mem.addData(
        Ev("10.0.0.1", ts("2024-01-01 00:01:00"), 100.0),
        Ev("10.0.1.9", ts("2024-01-01 00:03:00"), 50.0))
      query.processAllAvailable()
      // advance the watermark past window 1 to finalize it
      mem.addData(Ev("10.0.0.7", ts("2024-01-01 00:25:00"), 75.0))
      query.processAllAvailable()

      val plans = applied.synchronized(applied.toList)
      assert(plans.nonEmpty, "no reconciliation fired")
      val actions = steps(plans.head._2)
      // sweep removes everything but global, then creates the groups
      // generated from the finalized window
      assert(actions == Seq(
        (0, "remove", "stale_group"),
        (1, "create", "10_0_0_0"),
        (1, "create", "10_0_1_0")))
    } finally query.stop()
  }

  test("a finalizing trigger runs the stateful plan once and the tail shuffles nothing") {
    // the stream runs in a clone of this session, which copies the
    // listeners registered before it starts
    val tails = mutable.Buffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "action")) tails.synchronized(tails += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (mem, query, applied) = reconcile("0 seconds", removeExisting = true,
      Seq("global", "stale_group"))
    try {
      mem.addData(
        Ev("10.0.0.1", ts("2024-01-01 00:01:00"), 100.0),
        Ev("10.0.1.9", ts("2024-01-01 00:03:00"), 50.0),
        Ev("10.0.2.4", ts("2024-01-01 00:07:00"), 20.0))
      query.processAllAvailable()
      mem.addData(Ev("10.0.0.7", ts("2024-01-01 00:25:00"), 75.0))
      query.processAllAvailable()

      val calls = applied.synchronized(applied.toList)
      assert(calls.size == 1, calls)
      val (batchId, rows) = calls.head
      assert(rows.count(_.getAs[String]("action") == "create") == 3)
      // the trigger finalized three windows; each is evicted once
      val progress = query.recentProgress.find(_.batchId == batchId).get
      assert(progress.stateOperators(0).numRowsRemoved == 3)

      eventually(timeout(Span(10, Seconds))) {
        assert(tails.synchronized(tails.nonEmpty), "the tail's collect was not reported")
      }
      tails.synchronized(tails.toList).foreach { plan =>
        assert(find(plan)(_.isInstanceOf[ShuffleExchangeExec]).isEmpty, plan)
      }
    } finally {
      query.stop()
      spark.listenerManager.unregister(listener)
    }
  }

  test("two windows of one network finalizing together create one group from the newer") {
    // a 15-minute delay holds both windows open until the 00:45 event
    val (mem, query, applied) = reconcile("15 minutes", removeExisting = true, Seq("global"))
    try {
      mem.addData(
        Ev("10.0.0.1", ts("2024-01-01 00:01:00"), 100.0),
        Ev("10.0.0.2", ts("2024-01-01 00:12:00"), 30.0))
      query.processAllAvailable()
      assert(applied.synchronized(applied.isEmpty))
      mem.addData(Ev("10.0.9.1", ts("2024-01-01 00:45:00"), 1.0))
      query.processAllAvailable()

      val calls = applied.synchronized(applied.toList)
      assert(calls.size == 1, calls)
      val rows = calls.head._2
      assert(steps(rows) == Seq((1, "create", "10_0_0_0")))
      // the 00:10 window's avg is 30, so its threshold is 60 (the older
      // window's would be 200)
      assert(rows.head.getAs[Long]("threshold_pps") == 60L)
    } finally query.stop()
  }

  test("removeExisting = false removes only the current groups it regenerates") {
    val (mem, query, applied) = reconcile("0 seconds", removeExisting = false,
      Seq("global", "stale_group", "10_0_0_0"))
    try {
      mem.addData(
        Ev("10.0.0.1", ts("2024-01-01 00:01:00"), 100.0),
        Ev("10.0.1.9", ts("2024-01-01 00:03:00"), 50.0))
      query.processAllAvailable()
      mem.addData(Ev("10.0.0.7", ts("2024-01-01 00:25:00"), 75.0))
      query.processAllAvailable()

      val calls = applied.synchronized(applied.toList)
      assert(calls.size == 1, calls)
      assert(steps(calls.head._2) == Seq(
        (0, "remove", "10_0_0_0"),
        (1, "create", "10_0_0_0"),
        (1, "create", "10_0_1_0")))
    } finally query.stop()
  }

  test("a trigger that finalizes no window applies no actions") {
    val (mem, query, applied) = reconcile("0 seconds", removeExisting = true,
      Seq("global", "stale_group"))
    try {
      mem.addData(Ev("10.0.0.1", ts("2024-01-01 00:01:00"), 100.0))
      query.processAllAvailable()
      mem.addData(Ev("10.0.1.9", ts("2024-01-01 00:03:00"), 50.0))
      query.processAllAvailable()

      assert(query.recentProgress.count(_.numInputRows > 0) == 2)
      assert(applied.synchronized(applied.isEmpty))
    } finally query.stop()
  }
}
