package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** ER3: streaming entity resolution — a live stream of entities
  * fuzzy-matched against a STATIC reference table, with EXACT Jaccard
  * verification at ingest and ZERO streaming state.
  *
  * Where [[StreamingIncremental]] stops at a `near_candidate` flag
  * (verification deferred to the batch pass), this operator emits the
  * VERIFIED scored pair: the stream row carries its full distinct-gram
  * array in-row, candidates arrive as ARRAYS from a static
  * band -> right-ids index (array union = stateless dedup of
  * multi-band hits — a streaming `distinct` would need state), and
  * `shared` is computed per candidate with `array_intersect` against
  * the reference side's materialized gram array — row-local, exact,
  * the same integer threshold arithmetic as
  * [[graft.operators.EntityResolution.fuzzyJoin]].
  *
  * Candidate recall is the MinHash-band trade (the D3/D8 contract, not
  * ER1's complete shingle index): pairs sharing no band are missed —
  * at Jaccard >= 1/2 with 4 bands of 4 rows that probability is
  * negligible, and the spec pins pair-for-pair parity with the batch
  * band-candidate computation, so the two sides of a deployment can
  * never drift.
  *
  * Scale shape: stream side is pure row-local projection + K static
  * broadcast-joinable lookups (hot band buckets bound candidate-array
  * width — cap corpus-side via maxBucket if a boilerplate band
  * explodes); append mode, unbounded-history safe.
  */
object StreamingEr {

  /** Match a stream of (`idCol`, `textCol`) entities against the
    * static `reference` table: one APPEND row per verified pair —
    * (left_id, right_id, shared, n_l, n_r, jaccard) with Jaccard >=
    * num/den, exactly [[graft.operators.EntityResolution.fuzzyJoin]]'s
    * output columns.
    */
  def matchAgainst(stream: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int, num: Long,
      den: Long): DataFrame = {
    val ref = reference.select(col(idCol).as("right_id"),
      col(textCol).as("text"))
    val refSets = Dedup.shingleSets(ref, "right_id", "text", n)
    // reference-side indexes, built once at query start:
    // right_id -> (gram array, size) for in-row verification
    val refGrams = refSets.groupBy(col("doc_id").as("right_id"))
      .agg(collect_list(col("sh")).as("__rgrams"),
        count(lit(1)).as("n_r"))
    // per band: bh -> candidate right-id array (collect_set dedups)
    val bands = Dedup.bandHashes(Dedup.minhashSignatures(
      refSets.select(col("doc_id"), col("sh"))))
    val bucketIdx = (0 until Dedup.NBands).map { j =>
      bands.filter(col("band") === j)
        .groupBy(col("bh").as(s"__bh_$j"))
        .agg(collect_set(col("doc_id")).as(s"__cand_$j"))
    }

    var out = stream
      .select(col(idCol).as("left_id"), col(textCol).as("text"))
      .withColumn("__th", Dedup.hashTokens(Dedup.tokens(col("text"))))
      // in-row distinct gram array, empty under `n` tokens
      .withColumn("__lg", when(size(col("__th")) >= n,
          array_distinct(Dedup.gramHashes(col("__th"), n)))
        .otherwise(array().cast("array<bigint>")))
    for ((bh, j) <- Dedup.rowBandHashes(col("__lg")).zipWithIndex)
      out = out.withColumn(s"__bh_$j", bh)
        .join(bucketIdx(j), Seq(s"__bh_$j"), "left")
    // union of per-band hits = the candidate set, deduped in-row
    val candAll = array_distinct(concat((0 until Dedup.NBands).map(j =>
      coalesce(col(s"__cand_$j"), array().cast("array<bigint>"))): _*))
    out
      .withColumn("right_id", explode(candAll))
      .join(refGrams, "right_id")
      .withColumn("shared",
        size(array_intersect(col("__lg"), col("__rgrams"))).cast("long"))
      .withColumn("n_l", size(col("__lg")).cast("long"))
      .filter(lit(den + num) * col("shared") >= lit(num) * (col("n_l") + col("n_r")))
      .withColumn("jaccard",
        round(col("shared") / (col("n_l") + col("n_r") - col("shared")), 4))
      .select("left_id", "right_id", "shared", "n_l", "n_r", "jaccard")
  }
}
