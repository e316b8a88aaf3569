package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import StreamingHeavyHitters.Item

class StreamingHeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  test("under-k domains: streaming counts are exact and match the batch agg across batches") {
    implicit val ctx = spark.sqlContext
    val batch1 = Seq.fill(5)(Item("g1", "a")) ++ Seq.fill(3)(Item("g1", "b")) ++
      Seq.fill(2)(Item("g2", "x"))
    val batch2 = Seq.fill(4)(Item("g1", "b")) ++ Seq.fill(1)(Item("g2", "x"))

    val in = MemoryStream[Item]
    val query = StreamingHeavyHitters.topK(in.toDF(), k = 8)
      .writeStream.format("memory").queryName("hh_stream").outputMode("update")
      .start()
    try {
      in.addData(batch1: _*)
      query.processAllAvailable()
      in.addData(batch2: _*)
      query.processAllAvailable()

      // the LAST emission per (grp, item) carries the cumulative count
      val finalCounts = spark.table("hh_stream")
        .groupBy("grp", "item")
        .agg(org.apache.spark.sql.functions.max("count").as("count"))
        .as[(String, String, Long)].collect()
        .map { case (g, i, c) => (g, i) -> c }.toMap
      assert(finalCounts == Map(
        ("g1", "a") -> 5L, ("g1", "b") -> 7L, ("g2", "x") -> 3L))
    } finally query.stop()
  }

  test("output is capped at k and the true heavy hitter survives") {
    implicit val ctx = spark.sqlContext
    // 40 occurrences of "hot" + 30 singleton items, k=4:
    // freq(hot)=40 > n/(k+1)=14 -> MG guarantees presence
    val noise = (0 until 30).map(i => Item("g", s"n$i"))
    val rows = Seq.fill(40)(Item("g", "hot")) ++ noise

    val in = MemoryStream[Item]
    val query = StreamingHeavyHitters.topK(in.toDF(), k = 4)
      .writeStream.format("memory").queryName("hh_bound").outputMode("update")
      .start()
    try {
      in.addData(rows: _*)
      query.processAllAvailable()
      val out = spark.table("hh_bound")
        .as[StreamingHeavyHitters.TopItem].collect()
      assert(out.length <= 4, s"state leaked past k: ${out.length}")
      val hot = out.find(_.item == "hot").get
      assert(hot.pos == 0)
      // undercount bounded by n/(k+1) = 14
      assert(hot.count >= 40L - 14L && hot.count <= 40L)
    } finally query.stop()
  }

  /** Runs the twin over one group's `batches` and returns its last
    * emitted list, in position order.
    */
  private def lastList(name: String, batches: Seq[Seq[Item]], k: Int)
      : Seq[(String, Long)] = {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Item]
    val query = StreamingHeavyHitters.topK(in.toDF(), k)
      .writeStream.format("memory").queryName(name).outputMode("update")
      .start()
    try {
      batches.foreach { b => in.addData(b: _*); query.processAllAvailable() }
      // the sink appends each emission in order, each from pos 0
      val rows = spark.table(name).as[StreamingHeavyHitters.TopItem].collect()
      rows.drop(rows.lastIndexWhere(_.pos == 0)).map(r => (r.item, r.count)).toSeq
    } finally query.stop()
  }

  test("ties at the cut keep the smallest items, whatever the arrival order and batching") {
    val hot = Seq.fill(5)(Item("g", "hot"))
    val tied = ('a' to 'l').flatMap(c => Seq.fill(3)(Item("g", s"w$c")))
    val expected = ("hot", 5L) +: Seq("wa", "wb", "wc", "wd", "we").map(_ -> 3L)
    for (seed <- 1 to 3; nBatches <- Seq(1, 4)) {
      val rows = new scala.util.Random(seed).shuffle(hot ++ tied)
      val batches = rows.grouped((rows.size + nBatches - 1) / nBatches).toSeq
      assert(lastList(s"hh_ties_${seed}_$nBatches", batches, k = 6) == expected)
    }
  }

  test("counts stay exact past k while the distinct items fit the sketch") {
    val rows = Seq.fill(700)(Item("g", "hot")) ++
      (0 until 5000).flatMap(i => Seq.fill(1 + i % 3)(Item("g", s"i$i")))
    val shuffled = new scala.util.Random(7).shuffle(rows)
    val out = lastList("hh_range", shuffled.grouped(4000).toSeq, k = 10)
    val exact = rows.groupBy(_.item).map { case (w, ws) => (w, ws.size.toLong) }
    assert(out.head == ("hot", 700L))
    assert(out == exact.toSeq.sortBy { case (w, c) => (-c, w) }.take(10))
  }
}
