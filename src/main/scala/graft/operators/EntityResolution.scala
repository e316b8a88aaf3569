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
  * Scale design mirrors [[Dedup.ngramJaccard]]: candidates come from a
  * shared-shingle inverted index (shuffle keyed on the shingle hash —
  * work proportional to true collisions, never |L|x|R|), hot postings
  * are df-capped with an exact add-back for pairs already candidates
  * via a rare shingle, and the Jaccard threshold is pure integer
  * arithmetic so no float boundary can disagree with an oracle.
  */
object EntityResolution {

  /** ER1: all (left_id, right_id) pairs with word-`n`-gram Jaccard
    * >= num/den between `left.textCol` and `right.textCol`.
    *
    * `maxDf > 0` enables the posting-list cap: the df of a shingle is
    * counted across BOTH sides (candidate fanout of a posting is
    * df_left * df_right, so the guard must see the combined width).
    * Shared counts come from the rare postings alone — one
    * bounded-bucket shuffle — and the hot shingles' contribution is
    * added back exactly for pairs that are already candidates via a
    * rare shingle. Only pairs overlapping SOLELY in hot shingles are
    * missed; by construction those sit far below any useful threshold.
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
    if (maxDf <= 0) {
      val shared = ls.join(rs, "sh")
        .groupBy("left_id", "right_id").agg(count(lit(1)).as("shared"))
      finish(shared,
        ls.groupBy("left_id").agg(count(lit(1)).as("n_l")),
        rs.groupBy("right_id").agg(count(lit(1)).as("n_r")), num, den)
    } else {
      // one materialization feeds seven consumers (rare join both
      // sides, hot add-back both sides, both size lookups, and the
      // hot-shingle aggregation) — the same device as the capped
      // ngram path. r14: the rare/hot split rides Dedup.hotShingles'
      // tiny aggregated table (semi/anti joins AQE broadcasts, df
      // counted across BOTH sides via the union frame) instead of a
      // per-row df count-window — the split never needed the df
      // value, and the window shuffled AND sorted the whole index.
      // rare + hot partition the index, so the per-id sizes are
      // identical to the raw sets'
      val mat = Materializer.of(left.sparkSession)
      val all = mat(ls.select(col("left_id").as("id"), col("sh"))
        .withColumn("__side", lit(0))
        .union(rs.select(col("right_id").as("id"), col("sh"))
          .withColumn("__side", lit(1))))
      val hotSh = Dedup.hotShingles(all, maxDf)
      def side(s: Int, idName: String) =
        all.filter(col("__side") === s)
          .select(col("id").as(idName), col("sh"))
      val rareL = side(0, "left_id").join(hotSh, Seq("sh"), "left_anti")
      val rareR = side(1, "right_id").join(hotSh, Seq("sh"), "left_anti")
      val hotL = side(0, "left_id").join(hotSh, Seq("sh"), "left_semi")
      val hotR = side(1, "right_id").join(hotSh, Seq("sh"), "left_semi")
      val rareShared = rareL.join(rareR, "sh")
        .groupBy("left_id", "right_id").agg(count(lit(1)).as("shared"))
      val hotShared = rareShared.select("left_id", "right_id")
        .join(hotL, "left_id")
        .join(hotR, Seq("right_id", "sh"))
        .groupBy("left_id", "right_id").agg(count(lit(1)).as("__hot"))
      val shared = rareShared.join(hotShared, Seq("left_id", "right_id"), "left")
        .select(col("left_id"), col("right_id"),
          (col("shared") + coalesce(col("__hot"), lit(0L))).as("shared"))
      finish(shared,
        side(0, "left_id").groupBy("left_id").agg(count(lit(1)).as("n_l")),
        side(1, "right_id").groupBy("right_id").agg(count(lit(1)).as("n_r")),
        num, den)
    }
  }

  private def finish(shared: DataFrame, sizesL: DataFrame, sizesR: DataFrame,
      num: Long, den: Long): DataFrame =
    shared
      .join(sizesL, "left_id")
      .join(sizesR, "right_id")
      // Jaccard >= num/den as integer arithmetic — no float boundary
      .filter(lit(den + num) * col("shared") >= lit(num) * (col("n_l") + col("n_r")))
      .withColumn("jaccard",
        round(col("shared") / (col("n_l") + col("n_r") - col("shared")), 4))
      .select("left_id", "right_id", "shared", "n_l", "n_r", "jaccard")

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
