package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.operators.stateful.{SessionWindowStateStoreSaveExec, StateStoreSaveExec}
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}

import graft.SparkSuite

/** The twins whose state is nothing but an aggregation buffer run as
  * Spark streaming aggregations of their batch aggregate: each plan
  * saves its state through `StateStoreSaveExec` (gap sessions through
  * `SessionWindowStateStoreSaveExec`), and none holds a hand-written
  * `flatMapGroupsWithState` fold.
  */
class StreamingAggregationShapeSpec extends SparkSuite {
  import spark.implicits._

  /** Starts `out` on a memory sink, feeds `rows` as one micro-batch and
    * returns the executed plan of that batch.
    */
  private def executedPlan[T](name: String, in: MemoryStream[T], rows: Seq[T],
      out: Dataset[_], mode: String = "update"): SparkPlan = {
    val query = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      in.addData(rows: _*)
      query.processAllAvailable()
      query.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
    } finally query.stop()
  }

  private def assertAggregation(plan: SparkPlan): Unit = {
    assert(plan.collect { case s: StateStoreSaveExec => s }.nonEmpty,
      plan.treeString)
    assert(plan.collect { case f: FlatMapGroupsWithStateExec => f }.isEmpty,
      plan.treeString)
  }

  test("StreamingMarginals.counts is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingMarginals.KeyRow]
    assertAggregation(executedPlan("shape_marginals", in,
      Seq(StreamingMarginals.KeyRow(0L), StreamingMarginals.KeyRow(1L)),
      StreamingMarginals.counts(in.toDS())))
  }

  test("StreamingExpectations.counts is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingExpectations.KeyRow]
    assertAggregation(executedPlan("shape_expectations", in,
      Seq(StreamingExpectations.KeyRow(0L), StreamingExpectations.KeyRow(1L)),
      StreamingExpectations.counts(in.toDS())))
  }

  test("StreamingCascade.counts is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingCascade.VerdictRow]
    assertAggregation(executedPlan("shape_cascade", in,
      Seq(StreamingCascade.VerdictRow(0L), StreamingCascade.VerdictRow(2L)),
      StreamingCascade.counts(in.toDS())))
  }

  test("StreamingTrending.counts is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingTrending.DayTypeEvent]
    assertAggregation(executedPlan("shape_trending", in,
      Seq(StreamingTrending.DayTypeEvent(1, "a"),
        StreamingTrending.DayTypeEvent(1, "b")),
      StreamingTrending.counts(in.toDS())))
  }

  test("StreamingTopK.topK is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingTopK.Scored]
    assertAggregation(executedPlan("shape_topk", in,
      Seq(StreamingTopK.Scored("g", 1L, 2.0), StreamingTopK.Scored("g", 2L, 1.0)),
      StreamingTopK.topK(in.toDS(), k = 2)))
  }

  test("StreamingMoments.moments is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingMoments.Vec]
    assertAggregation(executedPlan("shape_moments", in,
      Seq(StreamingMoments.Vec("g", Seq(1.0, 2.0))),
      StreamingMoments.moments(in.toDS(), dim = 2)))
  }

  test("StreamingHeavyHitters.topK is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingHeavyHitters.Item]
    assertAggregation(executedPlan("shape_heavy_hitters", in,
      Seq(StreamingHeavyHitters.Item("g", "a"), StreamingHeavyHitters.Item("g", "b")),
      StreamingHeavyHitters.topK(in.toDF(), k = 2)))
  }

  test("StreamingProfiling.keySkew is a streaming aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingProfiling.Keyed]
    assertAggregation(executedPlan("shape_key_skew", in,
      Seq(StreamingProfiling.Keyed("a"), StreamingProfiling.Keyed("b")),
      StreamingProfiling.keySkew(in.toDS(), k = 2, nShards = 2)))
  }

  test("StreamingSessionize.sessions is a session-window aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingSessionize.SessionEvent]
    // session windows run in append mode; they do not support update
    val plan = executedPlan("shape_sessions", in,
      Seq(StreamingSessionize.SessionEvent(1L,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0)),
      StreamingSessionize.sessions(in.toDF(), gapSeconds = 1800L,
        watermarkDelay = "0 seconds"), mode = "append")
    assert(plan.collect { case s: SessionWindowStateStoreSaveExec => s }.nonEmpty,
      plan.treeString)
    assert(plan.collect { case f: FlatMapGroupsWithStateExec => f }.isEmpty,
      plan.treeString)
  }
}
