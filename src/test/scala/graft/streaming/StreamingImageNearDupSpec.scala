package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Multimodal

final case class MediaRow(doc_id: Long, media: Array[Byte])

class StreamingImageNearDupSpec extends SparkSuite {
  import spark.implicits._

  // synthesis params are (id%7, id%256, id%12)-periodic: id and
  // id + 5376 decode to identical rasters (dHash distance 0); other
  // ids spread across the ramp space
  private val corpusIds = Seq(3L, 7L, 11L, 20L, 33L)
  private val streamIds = Seq(3L + 5376L, 7L + 5376L, 500L)

  private def mediaOf(ids: Seq[Long]): Seq[MediaRow] =
    ids.map(id => MediaRow(id, Multimodal.synthesizePng(id)))

  private def dhashOf(ids: Seq[Long]): Map[Long, Long] =
    ids.map(id =>
      id -> Multimodal.perceptualHashOf(id, Multimodal.synthesizePng(id)).dhash).toMap

  private def brute(t: Int): Set[(Long, Long, Long)] = {
    val lh = dhashOf(streamIds)
    val rh = dhashOf(corpusIds)
    (for {
      l <- streamIds; r <- corpusIds
      d = java.lang.Long.bitCount(lh(l) ^ rh(r)).toLong
      if d <= t
    } yield (l, r, d)).toSet
  }

  test("streamed pair set equals brute-force stream x corpus (pigeonhole exact)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[MediaRow]
    val df = StreamingImageNearDup.matchAgainst(in.toDF(),
      mediaOf(corpusIds).toDF(), "doc_id", "media", maxHamming = 5, nBands = 6)
    val query = df.writeStream.format("memory").queryName("img_stream")
      .outputMode("append").start()
    try {
      in.addData(mediaOf(streamIds): _*)
      query.processAllAvailable()
      val got = spark.table("img_stream").collect()
        .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"),
          r.getAs[Long]("hamming"))).toSet
      assert(got == brute(5))
      // the planted identical pairs must be present at distance 0
      assert(got.contains((3L + 5376L, 3L, 0L)))
      assert(got.contains((7L + 5376L, 7L, 0L)))
    } finally query.stop()
  }

  private def runOnce(corpus: Seq[Long], streamed: Seq[Long],
      name: String, maxBucket: Long): Set[(Long, Long)] = {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[MediaRow]
    val df = StreamingImageNearDup.matchAgainst(in.toDF(),
      mediaOf(corpus).toDF(), "doc_id", "media", maxBucket = maxBucket)
    val query = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(mediaOf(streamed): _*)
      query.processAllAvailable()
      spark.table(name).collect()
        .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"))).toSet
    } finally query.stop()
  }

  test("matchAgainst explicit cap drops a flat corpus bucket, keeps " +
      "one at the cap") {
    // three corpus images with IDENTICAL rasters (the 5376 synthesis
    // period): every band bucket has width 3
    val flat = Seq(3L, 3L + 5376L, 3L + 2 * 5376L)
    val probe = Seq(3L + 3 * 5376L)
    // cap 2 drops every flat bucket, so the identical probe finds NO
    // candidates; cap 3 keeps them and all three pairs match
    assert(runOnce(flat, probe, "img_cap_2", 2L).isEmpty)
    assert(runOnce(flat, probe, "img_cap_3", 3L) ==
      flat.map(r => (probe.head, r)).toSet)
  }

  test("matchAgainst rejects negatives below the AutoBucket sentinel") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[MediaRow]
    // no negative value has a meaning, -1 included
    for (bad <- Seq(-1L, -2L))
      intercept[IllegalArgumentException](
        StreamingImageNearDup.matchAgainst(in.toDF(),
          mediaOf(corpusIds).toDF(), "doc_id", "media", maxBucket = bad))
  }

  test("append mode, zero streaming state: plan has no stateful operator") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[MediaRow]
    val df = StreamingImageNearDup.matchAgainst(in.toDF(),
      mediaOf(corpusIds).toDF(), "doc_id", "media")
    val query = df.writeStream.format("memory").queryName("img_stateless")
      .outputMode("append").start()
    try {
      in.addData(mediaOf(streamIds): _*)
      query.processAllAvailable()
      val progress = query.lastProgress
      assert(progress.stateOperators.isEmpty ||
        progress.stateOperators.forall(_.numRowsTotal == 0))
    } finally query.stop()
  }
}
