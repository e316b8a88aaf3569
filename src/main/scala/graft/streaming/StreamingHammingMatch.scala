package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materializer}

/** The generic zero-state streaming band-match core behind
  * [[StreamingImageNearDup]] (M7s) and [[StreamingAudioNearDup]]
  * (M8s): a live stream of integer fingerprints matched against a
  * STATIC corpus fingerprint index with no streaming state at all —
  * the [[StreamingEr]]/ANN serving shape:
  *
  *   - corpus side, built once at query start: per band, a
  *     band-value -> candidate-id-array index (collect_set = the
  *     dedup a streaming `distinct` would need state for), plus the
  *     id -> hash table for verification;
  *   - stream side, all row-local: band the hash with plain bit ops
  *     into `nBands` columns, LEFT-join each band index, union the
  *     candidate arrays in-row, explode, join the hash table, one
  *     codegen'd bit_count Hamming check.
  *
  * With `nBands > maxHamming` the candidate generation is EXACT by
  * the same pigeonhole argument as the batch operator
  * ([[graft.operators.Dedup.bandedHammingPairs]]). Append mode,
  * unbounded-history safe; `maxBucket` caps corpus-side bucket width
  * (a flat fingerprint shared corpus-wide would otherwise ride into
  * every matching stream row's candidate array); 0 = uncapped, and a
  * negative value is rejected ([[graft.operators.Dedup.requireBucketCap]]).
  */
object StreamingHammingMatch {

  /** One APPEND row per (stream item, corpus item) pair within
    * `maxHamming` bits: (left_id, right_id, hamming). Inputs are
    * already-fingerprinted frames: `streamHashed` as
    * (left_id: Long, __lh: Long), `corpusHashed` as
    * (right_id: Long, __rh: Long).
    */
  def matchHashed(streamHashed: DataFrame, corpusHashed: DataFrame,
      totalBits: Int, maxHamming: Int, nBands: Int,
      maxBucket: Long): DataFrame = {
    Dedup.requireBucketCap(maxBucket)
    require(nBands > 0 && totalBits % nBands == 0,
      s"nBands=$nBands must divide $totalBits")
    val width = totalBits / nBands
    val mask = (1L << width) - 1L
    val mat = Materializer.of(corpusHashed.sparkSession)

    // static side: one fingerprint pass feeds the hash table AND
    // every band index
    val corpusH = mat(corpusHashed)
    // cap filters run over the materialized index blocks — cheap, and
    // the filtered frames need no re-checkpoint
    val bandIdx = (0 until nBands).map { j =>
      val idx = mat(corpusH
        .withColumn(s"__bv_$j", shiftright(col("__rh"), width * j).bitwiseAND(lit(mask)))
        .groupBy(col(s"__bv_$j"))
        .agg(collect_set(col("right_id")).as(s"__cand_$j")))
      if (maxBucket == 0) idx
      else idx.filter(size(col(s"__cand_$j")) <= maxBucket)
    }

    var out = streamHashed
    for (j <- 0 until nBands) {
      out = out
        .withColumn(s"__bv_$j",
          shiftright(col("__lh"), width * j).bitwiseAND(lit(mask)))
        .join(bandIdx(j), Seq(s"__bv_$j"), "left")
    }
    val candAll = array_distinct(concat((0 until nBands).map(j =>
      coalesce(col(s"__cand_$j"), array().cast("array<bigint>"))): _*))
    out
      .withColumn("right_id", explode(candAll))
      .join(corpusH, "right_id")
      .withColumn("hamming", expr("bit_count(__lh ^ __rh)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("left_id", "right_id", "hamming")
  }
}
