package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** M8s: streaming audio near-dup — a live stream of (id, WAV) payloads
  * fingerprinted at ingest (REAL PCM decode -> 60-bit energy-delta
  * fingerprint, the M8 kernel) and matched against a STATIC corpus
  * fingerprint index with ZERO streaming state through the generic
  * band-match core ([[StreamingHammingMatch]] — the M7s serving shape
  * with the audio kernel swapped in; index shape, pigeonhole
  * exactness, and the `maxBucket` cap contract documented there). The
  * spec pins the streamed pair set equal to a brute-force stream x
  * corpus scan on real decoded bytes.
  */
object StreamingAudioNearDup {

  /** One APPEND row per (stream clip, corpus clip) pair within
    * `maxHamming` bits: (left_id, right_id, hamming).
    */
  def matchAgainst(stream: DataFrame, corpus: DataFrame, idCol: String,
      mediaCol: String, maxHamming: Int = 2, nBands: Int = 3,
      maxBucket: Long = 0): DataFrame =
    StreamingHammingMatch.matchHashed(
      Multimodal.audioFingerprint(stream, idCol, mediaCol)
        .select(col("doc_id").as("left_id"), col("afp").as("__lh")),
      Multimodal.audioFingerprint(corpus, idCol, mediaCol)
        .select(col("doc_id").as("right_id"), col("afp").as("__rh")),
      totalBits = 60, maxHamming = maxHamming, nBands = nBands,
      maxBucket = maxBucket)
}
