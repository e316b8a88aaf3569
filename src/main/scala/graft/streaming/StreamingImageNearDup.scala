package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** M7s: streaming image near-dup — a live stream of (id, media)
  * payloads fingerprinted at ingest (REAL raster decode -> 60-bit
  * dHash, the M5 kernel) and matched against a STATIC corpus
  * fingerprint index with ZERO streaming state through the generic
  * band-match core ([[StreamingHammingMatch]] — index shape, the
  * pigeonhole exactness argument, and the `maxBucket` cap contract
  * documented there); the spec pins the streamed pair set equal to a
  * brute-force stream x corpus scan.
  */
object StreamingImageNearDup {

  /** One APPEND row per (stream image, corpus image) pair within
    * `maxHamming` bits: (left_id, right_id, hamming).
    */
  def matchAgainst(stream: DataFrame, corpus: DataFrame, idCol: String,
      mediaCol: String, maxHamming: Int = 5, nBands: Int = 6,
      maxBucket: Long = 0): DataFrame =
    StreamingHammingMatch.matchHashed(
      Multimodal.perceptualHash(stream, idCol, mediaCol)
        .select(col("doc_id").as("left_id"), col("dhash").as("__lh")),
      Multimodal.perceptualHash(corpus, idCol, mediaCol)
        .select(col("doc_id").as("right_id"), col("dhash").as("__rh")),
      totalBits = 60, maxHamming = maxHamming, nBands = nBands,
      maxBucket = maxBucket)
}
