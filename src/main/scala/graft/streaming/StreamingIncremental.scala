package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming incremental dedup — the continuous counterpart of
  * Dedup.incremental: a live ingest stream classified against a
  * STATIC, already-curated corpus.
  *
  * Production split: the stream applies the CHEAP filters at ingest
  * time — exact content-hash match (authoritative) and minhash
  * band-bucket membership (a candidate FLAG, not a verdict) — and the
  * daily batch D8 pass runs the exact Jaccard verification over the
  * flagged candidates. `status` is therefore
  * `dup_exact` | `near_candidate` | `new`, where `near_candidate` is a
  * superset of the batch operator's `near_dup` (LSH candidates before
  * verification).
  *
  * Scale shape: the whole signature (tokens -> gram hashes -> k
  * minhashes -> band hashes) is computed IN-ROW with higher-order
  * functions — no streaming aggregation, no watermark, zero streaming
  * state. The corpus compresses into two static indexes built once at
  * query start (hash -> min id; distinct band buckets), and each
  * micro-batch runs one stream-static left join per index — append
  * mode, unbounded-history safe.
  */
object StreamingIncremental {

  /** Classify a stream of (`idCol`, `textCol`) docs against a static
    * corpus: one output row per incoming doc with `status` and, for
    * exact duplicates, the smallest matching corpus id (`match_id`;
    * null otherwise — near candidates resolve in the batch pass).
    */
  def classify(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val ex = corpus.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val hashIdx = ex.groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("__exact_match"))
    val bucketIdx = Dedup.bandHashes(Dedup.minhashSignatures(
        Dedup.shingleSets(ex, "doc_id", "text", n)))
      .select(col("band"), col("bh")).distinct()

    var out = stream
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("__h", md5(col("text")))
      .withColumn("__th", Dedup.hashTokens(Dedup.tokens(col("text"))))
      // the in-row twin of Dedup.shingleSets' per-doc set: distinct
      // gram hashes, empty under `n` tokens
      .withColumn("__sh", when(size(col("__th")) >= n,
          array_distinct(Dedup.gramHashes(col("__th"), n)))
        .otherwise(array().cast("array<bigint>")))
    for ((bh, j) <- Dedup.rowBandHashes(col("__sh")).zipWithIndex)
      out = out.withColumn(s"__bh_$j", bh)
    // stream-static equi joins; unhinted so the planner picks broadcast
    // when the corpus index fits and a shuffled join when it doesn't
    out = out.join(hashIdx, Seq("__h"), "left")
    for (j <- 0 until Dedup.NBands) {
      out = out.join(
        bucketIdx.filter(col("band") === j)
          .select(col("bh").as(s"__bh_$j"), lit(true).as(s"__hit_$j")),
        Seq(s"__bh_$j"), "left")
    }
    val anyHit = (0 until Dedup.NBands).map(j => col(s"__hit_$j").isNotNull)
      .reduce(_ || _)
    out.select(col("doc_id"),
      when(col("__exact_match").isNotNull, "dup_exact")
        .when(anyHit, "near_candidate")
        .otherwise("new").as("status"),
      col("__exact_match").as("match_id"))
  }
}
