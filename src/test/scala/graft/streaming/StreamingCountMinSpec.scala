package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.CountMin
import StreamingCountMin.Item

class StreamingCountMinSpec extends SparkSuite {
  import spark.implicits._

  private val depth = 4
  private val width = 64

  test("cross-batch estimates equal the batch CMS on the same rows") {
    implicit val ctx = spark.sqlContext
    val evs = (1 to 300).map(i => Item(s"g${i % 2}", s"it${i % 5}"))
    val (b1, b2) = evs.splitAt(120)

    val in = MemoryStream[Item]
    val query = StreamingCountMin.estimates(in.toDS(), depth, width)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("update").start()
    try {
      in.addData(b1: _*); query.processAllAvailable()
      in.addData(b2: _*); query.processAllAvailable()

      val streamed = spark.table("cms_stream")
        .withColumn("seq", monotonically_increasing_id())
        .groupBy("grp", "item")
        .agg(max_by(struct(col("est"), col("n")), col("seq")).as("e"))
        .select(col("grp"), col("item"), col("e.est"), col("e.n"))
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap

      // the batch aggregate + estimator over the identical rows —
      // same hash, so the estimates must be EQUAL, not just banded
      val df = evs.map(e => (e.grp, e.item)).toDF("grp", "item")
      val batch = df.groupBy("grp")
        .agg(CountMin.sketch(col("item"), depth, width).as("sk"),
          count(lit(1)).as("n"))
      val items = df.distinct()
      val expected = items.join(batch, "grp")
        .select(col("grp"), col("item"),
          CountMin.estimate(col("sk"), col("item")).as("est"),
          col("n"))
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap

      assert(streamed == expected)
      // and in this tiny-alphabet regime the estimates are exact
      val exact = evs.groupBy(e => (e.grp, e.item))
        .map { case (k, v) => k -> v.size.toLong }
      exact.foreach { case (k, c) =>
        assert(streamed(k)._1 == c, s"$k: ${streamed(k)._1} != $c") }
    } finally query.stop()
  }
}
