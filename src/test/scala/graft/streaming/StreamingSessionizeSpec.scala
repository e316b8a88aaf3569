package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.streaming.StreamingSessionize.SessionEvent

class StreamingSessionizeSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("gap-split sessions close via state timeout as the watermark advances") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext

    val mem = MemoryStream[SessionEvent]
    val out = StreamingSessionize.sessions(
      mem.toDF(), gapSeconds = 1800L, watermarkDelay = "0 seconds")

    val query = out.writeStream
      .format("memory")
      .queryName("sessions_stream")
      .outputMode("append")
      .start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h gap
      mem.addData(
        SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        SessionEvent(1L, ts("2024-01-01 10:10:00"), 2.0))
      query.processAllAvailable()
      // the 12:30 event advances the watermark far past 10:10+gap ->
      // the first session times out and closes; a new one opens
      mem.addData(SessionEvent(1L, ts("2024-01-01 12:30:00"), 5.0))
      query.processAllAvailable()
      mem.addData(SessionEvent(2L, ts("2024-01-01 15:00:00"), 7.0))
      query.processAllAvailable()

      val rows = spark.table("sessions_stream")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value")))
      // first closed session: user 1, 2 events, sum 3.0
      assert(rows.contains((1L, 2L, 3.0)), s"got ${rows.toSeq}")
    } finally query.stop()
  }

  test("out-of-order event inside the gap extends the session start downward") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext

    val mem = MemoryStream[SessionEvent]
    val out = StreamingSessionize.sessions(
      mem.toDF(), gapSeconds = 1800L, watermarkDelay = "2 hours")

    val query = out.writeStream
      .format("memory")
      .queryName("sessions_ooo")
      .outputMode("append")
      .start()
    try {
      // the session opens at 10:20, then a LATE event arrives for
      // 10:05 (inside the watermark and the gap): start_us must move
      // back to 10:05, matching the batch qSessionize semantics
      mem.addData(SessionEvent(1L, ts("2024-01-01 10:20:00"), 1.0))
      query.processAllAvailable()
      mem.addData(SessionEvent(1L, ts("2024-01-01 10:05:00"), 2.0))
      query.processAllAvailable()
      // close the session by advancing the watermark far ahead
      mem.addData(SessionEvent(2L, ts("2024-01-02 00:00:00"), 9.0))
      query.processAllAvailable()

      val rows = spark.table("sessions_ooo")
        .filter(col("user_id") === 1L)
        .collect()
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us")))
      val expectStart = ts("2024-01-01 10:05:00").getTime * 1000L
      val expectEnd = ts("2024-01-01 10:20:00").getTime * 1000L
      assert(rows.toSeq == Seq((2L, expectStart, expectEnd)), s"got ${rows.toSeq}")
    } finally query.stop()
  }

  test("a late event more than a gap before the open session opens an earlier one") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext

    val mem = MemoryStream[SessionEvent]
    val out = StreamingSessionize.sessions(
      mem.toDF(), gapSeconds = 1800L, watermarkDelay = "2 hours")

    val query = out.writeStream
      .format("memory")
      .queryName("sessions_late")
      .outputMode("append")
      .start()
    try {
      // 09:40 arrives after 10:20, inside the watermark but 40 min
      // before it: the batch qSessionize splits them into two sessions
      mem.addData(SessionEvent(1L, ts("2024-01-01 10:20:00"), 1.0))
      query.processAllAvailable()
      mem.addData(SessionEvent(1L, ts("2024-01-01 09:40:00"), 2.0))
      query.processAllAvailable()
      mem.addData(SessionEvent(2L, ts("2024-01-02 00:00:00"), 9.0))
      query.processAllAvailable()

      def us(s: String) = ts(s).getTime * 1000L
      val rows = spark.table("sessions_late")
        .filter(col("user_id") === 1L)
        .collect()
        .map(r => (r.getAs[Long]("start_us"), r.getAs[Long]("end_us"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toSeq.sorted
      assert(rows == Seq(
        (us("2024-01-01 09:40:00"), us("2024-01-01 09:40:00"), 1L, 2.0),
        (us("2024-01-01 10:20:00"), us("2024-01-01 10:20:00"), 1L, 1.0)),
        s"got $rows")
    } finally query.stop()
  }
}
