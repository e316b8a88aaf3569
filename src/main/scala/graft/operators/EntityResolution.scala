package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution (SURVEY.md §2.3 ER1/ER2): fuzzy-join two
  * ARBITRARY tables on text similarity, then resolve the pair set to a
  * one-to-one assignment. Generalizes the corpus-vs-ingest shape of
  * [[Dedup.incremental]] (reference analogue: none — the reference's
  * ClickHouse queries join on exact keys only) to the record-linkage
  * shape every data-integration pipeline needs: left and right are
  * different tables with different id spaces, and the output is a
  * match table, not a dup/keep classification.
  *
  * Scale design: the pair set is [[Dedup]]'s one set-overlap
  * verifier ([[Dedup.sharedCounts]], [[Dedup.jaccardFilterSizes]])
  * run over two tables instead of one, so candidates, the df cap with
  * its exact hot add-back and the integer Jaccard test are
  * [[Dedup.ngramJaccard]]'s.
  */
object EntityResolution {

  /** ER1: all (left_id, right_id) pairs with word-`n`-gram Jaccard
    * >= num/den between `left.textCol` and `right.textCol`: the
    * [[Dedup.sharedCounts]] overlap count over the two shingle sides
    * (every pair kept) and the [[Dedup.jaccardFilterSizes]] test, the
    * verifier [[Dedup.ngramJaccard]] runs as a self-join.
    *
    * `maxDf > 0` enables the posting-list cap, with the df of a
    * shingle counted across BOTH sides (candidate fanout of a posting
    * is df_left * df_right, so the guard must see the combined width):
    * the two sides are materialized once as one union frame, which
    * feeds the rare join, the hot add-back, both size lookups and the
    * hot-shingle aggregation.
    *
    * Output: left_id, right_id, shared, n_l, n_r, jaccard (round-4,
    * display only — the threshold test never touches it).
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, n: Int, num: Long, den: Long,
      maxDf: Long = 0): DataFrame = {
    val ls = Dedup.shingleSets(left, idCol, textCol, n)
      .select(col("doc_id").as("left_id"), col("sh"))
    val rs = Dedup.shingleSets(right, idCol, textCol, n)
      .select(col("doc_id").as("right_id"), col("sh"))
    val (l, r, hot) =
      if (maxDf <= 0) (ls, rs, None)
      else {
        val all = Materializer.of(left.sparkSession)(
          ls.select(col("left_id").as("id"), col("sh"))
            .withColumn("__side", lit(0))
            .union(rs.select(col("right_id").as("id"), col("sh"))
              .withColumn("__side", lit(1))))
        def side(s: Int, idName: String) =
          all.filter(col("__side") === s)
            .select(col("id").as(idName), col("sh"))
        (side(0, "left_id"), side(1, "right_id"),
          Some(Dedup.hotShingles(all, maxDf)))
      }
    Dedup.jaccardFilterSizes(
      Dedup.sharedCounts(l, r, ("left_id", "right_id"), lit(true), hot),
      l.groupBy("left_id").agg(count(lit(1)).as("n_l")),
      r.groupBy("right_id").agg(count(lit(1)).as("n_r")), num, den)
  }

  /** ER2: resolve a scored pair set to a one-to-one assignment by
    * MUTUAL best match: a pair survives iff it is both its left
    * entity's best right AND its right entity's best left. "Best"
    * orders by (jaccard DESC, id ASC) — the rounded display jaccard is
    * deterministic IEEE arithmetic on exact longs, so the ordering is
    * engine-independent, and the id tiebreak settles equal scores.
    *
    * Mutual-rank-1 (a.k.a. symmetric best match) is the standard
    * greedy-free resolution: unlike sequential greedy assignment it
    * needs no iteration order, so it is expressible as two windows and
    * a filter — each window partitions by an entity id, so the sort
    * distributes across entities at any scale.
    */
  def bestMatch(pairs: DataFrame): DataFrame = {
    val wl = Window.partitionBy(col("left_id"))
      .orderBy(col("jaccard").desc, col("right_id"))
    val wr = Window.partitionBy(col("right_id"))
      .orderBy(col("jaccard").desc, col("left_id"))
    pairs
      .withColumn("__rl", row_number().over(wl))
      .withColumn("__rr", row_number().over(wr))
      .filter(col("__rl") === 1 && col("__rr") === 1)
      .drop("__rl", "__rr")
  }
}
