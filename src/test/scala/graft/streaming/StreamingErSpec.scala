package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup

final case class ErDoc(doc_id: Long, text: String)

class StreamingErSpec extends SparkSuite {
  import spark.implicits._

  private val reference = Seq(
    ErDoc(100L, "the quick brown fox jumps over the lazy dog tonight"),
    ErDoc(101L, "pack my box with five dozen liquor jugs right now"),
    ErDoc(102L, "entirely different reference content about query planning"))

  private val incoming = Seq(
    ErDoc(1L, "the quick brown fox jumps over the lazy dog"),     // ~100
    ErDoc(2L, "pack my box with five dozen liquor jugs right"),   // ~101
    ErDoc(3L, "nothing in common with any reference entity"),
    ErDoc(4L, "short"))                                           // no grams

  /** Batch twin of the streaming definition: band candidates + exact
    * verification (the D3/D8 candidate contract, two-table shape).
    */
  private def batchPairs(): Set[(Long, Long, Long, Long, Long)] = {
    val l = incoming.toDF()
    val r = reference.toDF()
    val ls = Dedup.shingleSets(l, "doc_id", "text", 3)
    val rs = Dedup.shingleSets(r, "doc_id", "text", 3)
    val lb = Dedup.bandHashes(Dedup.minhashSignatures(ls))
    val rb = Dedup.bandHashes(Dedup.minhashSignatures(rs))
    val cand = lb.as("x").join(rb.as("y"), Seq("band", "bh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    Dedup.jaccardFilter(Dedup.exactShared(cand, ls, rs),
        ls.union(rs), 1, 2)
      .select("doc_a", "doc_b", "shared", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
  }

  test("streamed verified pairs equal the batch band-candidate computation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[ErDoc]
    val query = StreamingEr.matchAgainst(in.toDF(), reference.toDF(),
        "doc_id", "text", 3, 1, 2)
      .writeStream.format("memory").queryName("er_stream")
      .outputMode("append").start()
    try {
      in.addData(incoming.take(2): _*)
      in.addData(incoming.drop(2): _*)
      query.processAllAvailable()
      val streamed = spark.table("er_stream")
        .select("left_id", "right_id", "shared", "n_l", "n_r")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed == batchPairs())
      // the true matches are found, the unrelated and short docs are not
      assert(streamed.map(p => (p._1, p._2)) == Set(1L -> 100L, 2L -> 101L))
    } finally query.stop()
  }

  test("append mode, zero streaming state: plan has no stateful operator") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[ErDoc]
    val df = StreamingEr.matchAgainst(in.toDF(), reference.toDF(),
      "doc_id", "text", 3, 1, 2)
    val query = df.writeStream.format("memory").queryName("er_stateless")
      .outputMode("append").start()
    try {
      in.addData(incoming: _*)
      query.processAllAvailable()
      val progress = query.lastProgress
      assert(progress.stateOperators.isEmpty ||
        progress.stateOperators.forall(_.numRowsTotal == 0))
    } finally query.stop()
  }
}
