package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Funnel
import StreamingPaths.PathEvent

class StreamingPathsSpec extends SparkSuite {
  import spark.implicits._

  private val gapSec = 1800L
  private val types = Vector("view", "click", "cart", "buy", "search")

  // per user: three sessions of 3-6 events separated by > gap; types
  // deterministic so trigram paths repeat across users/sessions
  private def fixture: Seq[PathEvent] =
    for {
      u <- 0L until 12L
      s <- 0 until 3
      n = 3 + ((u + s) % 4).toInt
      i <- 0 until n
    } yield PathEvent(u,
      new Timestamp(1700000000000L + s * 7200000L + i * 60000L + u * 250L),
      u * 1000 + s * 100 + i,
      types(((u * 3 + s * 5 + i * 7) % 13 % types.length).toInt))

  private def runStream(batches: Seq[Seq[PathEvent]], name: String,
      watermarkDelay: String = "0 seconds") = {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[PathEvent]
    val query = StreamingPaths.trigrams(StreamingPaths.closedSessions(
        in.toDF(), gapSec, watermarkDelay = watermarkDelay))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    (in, query)
  }

  test("closed-session trigram report equals the batch A55 operator") {
    val evs = fixture
    // 1-day watermark delay: the fixture iterates USERS sequentially,
    // so later batches carry earlier timestamps — a tight watermark
    // would drop them as late before the session machine ever saw them
    val (in, query) = runStream(Nil, "paths_stream", "1 day")
    try {
      Seq(evs.take(30), evs.slice(30, 31), evs.drop(31)).foreach { b =>
        in.addData(b: _*); query.processAllAvailable()
      }
      // a far-future sentinel on an unused key advances the GLOBAL
      // watermark (max event − delay) past every open session's
      // timeout; run two triggers so the timeout pass after the
      // watermark update executes
      in.addData(PathEvent(999L, new Timestamp(1700000000000L + 3 * 86400000L),
        999999L, "end"))
      query.processAllAvailable()
      in.addData(PathEvent(999L, new Timestamp(1700000000000L + 3 * 86400000L + 100000L),
        999998L, "end"))
      query.processAllAvailable()

      val streamed = spark.table("paths_stream")
        .groupBy("path")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(concat_ws("#", col("user_id"),
            col("session_start_us"))).as("n_sessions"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

      val batch = Funnel.pathTrigrams(
          evs.toDF("user_id", "ts", "event_id", "etype"),
          "user_id", "ts", "etype", "event_id", gapSec)
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

      assert(streamed.nonEmpty && streamed == batch)
    } finally query.stop()
  }

  test("session-types feed rebuilds the batch basket report exactly") {
    implicit val ctx = spark.sqlContext
    val evs = fixture
    val in = MemoryStream[PathEvent]
    val query = StreamingPaths.sessionTypes(StreamingPaths.closedSessions(
        in.toDF(), gapSec, watermarkDelay = "1 day"))
      .writeStream.format("memory").queryName("basket_stream")
      .outputMode("append").start()
    try {
      in.addData(evs: _*); query.processAllAvailable()
      in.addData(PathEvent(999L, new Timestamp(1700000000000L + 3 * 86400000L),
        999999L, "end"))
      query.processAllAvailable()
      in.addData(PathEvent(999L, new Timestamp(1700000000000L + 3 * 86400000L + 100000L),
        999998L, "end"))
      query.processAllAvailable()

      // the batch basketPairs tail over the streamed (session, type)
      // frame — identical aggregation, different session-id spelling
      val st = spark.table("basket_stream")
        .select(concat_ws("#", col("user_id"),
          col("session_start_us")).as("__sid"), col("etype").as("__ty"))
        .distinct()
      val totals = st.agg(countDistinct(col("__sid")).as("__n_sessions"))
      val perType = st.groupBy(col("__ty")).agg(count(lit(1)).as("__n"))
      val pairs = st.as("x").join(st.as("y"), "__sid")
        .filter(col("x.__ty") < col("y.__ty"))
        .groupBy(col("x.__ty").as("type_a"), col("y.__ty").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      val streamed = pairs
        .join(perType.select(col("__ty").as("type_a"), col("__n").as("n_a")), "type_a")
        .join(perType.select(col("__ty").as("type_b"), col("__n").as("n_b")), "type_b")
        .crossJoin(totals)
        .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
          col("n_b"), col("__n_sessions").as("n_sessions"),
          round((col("__n_sessions") * col("n_ab")).cast("double")
            / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
        .as[(String, String, Long, Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap

      val batch = Funnel.basketPairs(
          evs.toDF("user_id", "ts", "event_id", "etype"),
          "user_id", "ts", "etype", "event_id", gapSec)
        .as[(String, String, Long, Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap

      assert(streamed.nonEmpty && streamed == batch)
    } finally query.stop()
  }

  test("the path is (ts, event_id)-ordered regardless of arrival order") {
    val base = 1700000000000L
    val evs = Seq( // one session, fed out of order inside one batch
      PathEvent(1L, new Timestamp(base + 120000L), 3L, "cart"),
      PathEvent(1L, new Timestamp(base), 1L, "view"),
      PathEvent(1L, new Timestamp(base + 60000L), 2L, "click"),
      PathEvent(1L, new Timestamp(base + 60000L), 5L, "search"))
    val (in, query) = runStream(Nil, "paths_order")
    try {
      in.addData(evs: _*); query.processAllAvailable()
      in.addData(PathEvent(999L, new Timestamp(base + 86400000L), 9L, "end"))
      query.processAllAvailable()
      in.addData(PathEvent(999L, new Timestamp(base + 86500000L), 8L, "end"))
      query.processAllAvailable()
      val paths = spark.table("paths_order").select("path")
        .as[String].collect().sorted.toSeq
      // ordered types: view, click(eid 2), search(eid 5, same ts), cart
      assert(paths == Seq("click>search>cart", "view>click>search"))
    } finally query.stop()
  }

  test("a runaway session drops past the cap and counts the loss") {
    implicit val ctx = spark.sqlContext
    val base = 1700000000000L
    val in = MemoryStream[PathEvent]
    val query = StreamingPaths.closedSessions(
        in.toDF(), gapSec, watermarkDelay = "0 seconds", maxBuffer = 4)
      .writeStream.format("memory").queryName("paths_cap")
      .outputMode("append").start()
    try {
      in.addData((0 until 7).map(i =>
        PathEvent(1L, new Timestamp(base + i * 1000L), i.toLong, s"t$i")): _*)
      query.processAllAvailable()
      in.addData(PathEvent(999L, new Timestamp(base + 86400000L), 9L, "end"))
      query.processAllAvailable()
      in.addData(PathEvent(999L, new Timestamp(base + 86500000L), 8L, "end"))
      query.processAllAvailable()
      val rows = spark.table("paths_cap")
        .select("path", "n_dropped")
        .as[(Seq[String], Long)].collect()
      assert(rows.length == 1)
      assert(rows.head._1 == Seq("t0", "t1", "t2", "t3") &&
        rows.head._2 == 3L)
    } finally query.stop()
  }

  test("a late event more than a gap before the open session is dropped and counted") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[PathEvent]
    val query = StreamingPaths.closedSessions(
        in.toDF(), gapSec, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("paths_late")
      .outputMode("append").start()
    try {
      // 09:40 arrives after 10:20, inside the watermark but 40 min
      // before it: it belongs to an earlier session the state cannot hold
      in.addData(PathEvent(1L, Timestamp.valueOf("2024-01-01 10:20:00"), 1L, "view"))
      query.processAllAvailable()
      in.addData(PathEvent(1L, Timestamp.valueOf("2024-01-01 09:40:00"), 2L, "click"))
      query.processAllAvailable()
      in.addData(PathEvent(999L, Timestamp.valueOf("2024-01-02 00:00:00"), 9L, "end"))
      query.processAllAvailable()
      in.addData(PathEvent(999L, Timestamp.valueOf("2024-01-02 00:01:00"), 8L, "end"))
      query.processAllAvailable()
      val rows = spark.table("paths_late").filter(col("user_id") === 1L)
        .select("session_start_us", "path", "n_dropped")
        .as[(Long, Seq[String], Long)].collect().toSeq
      assert(rows == Seq((Timestamp.valueOf("2024-01-01 10:20:00").getTime * 1000L,
        Seq("view"), 1L)), s"got $rows")
    } finally query.stop()
  }
}
