package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C1: train/test contamination detection — for every eval-split
  * document, the fraction of its word-n-gram shingles that also occur
  * anywhere in the train split (the decontamination check run before
  * any benchmark number is trusted; n = 8..13 in published pipelines,
  * parameterized here).
  *
  * Scale shape: both sides reduce to (key = shingle hash) rows, the
  * train side is distinct-ed per shingle, and the overlap is one
  * hash-keyed join — work proportional to corpus shingle volume, never
  * |test| x |train|. The train index side is explicitly SIZED
  * ([[Dedup.sizedGramSide]]): a count over its checkpoint picks a
  * broadcast hint while it genuinely fits
  * [[Dedup.GramBroadcastMaxRows]] (1M) rows, and a
  * spill-safe sort-merge hint past that — at 100 TB the train shingle
  * index is itself huge and must never ride a broadcast bet on
  * Spark's unmodeled explode estimates (the rogue-broadcast
  * lesson of SURVEY §28.6).
  */
object Contamination {

  /** Per-test-doc shingle overlap against the train split. `df` must
    * carry a split column (e.g. from [[Sampling.hashSplit]]);
    * `thrNum/thrDen` flag docs with overlap >= thrNum/thrDen using
    * integer arithmetic only.
    */
  def ngramOverlap(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, n: Int, trainVal: String = "train",
      testVal: String = "test", thrNum: Long = 1, thrDen: Long = 5): DataFrame =
    perDocOverlap(df, idCol, textCol, splitCol, Seq.empty, n,
        trainVal, testVal)
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        round(col("n_hit") / col("n_shingles"), 4).as("overlap_frac"),
        (col("n_hit") * thrDen >= col("n_shingles") * thrNum).as("contaminated"))

  /** The shared C1 audit core: per test doc, (n_shingles, n_hit)
    * against the train split's shingle index, with `extraCols` riding
    * the test side as functionally-dependent grouping keys (zero extra
    * shuffle width — doc_id determines them).
    */
  private def perDocOverlap(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, extraCols: Seq[String], n: Int, trainVal: String,
      testVal: String): DataFrame = {
    // only train/test docs are shingled — a 'val' split (or anything
    // else) must not pay the tokenize+hash+explode pass at corpus scale
    val relevant = df.filter(col(splitCol).isin(trainVal, testVal))
    // r17 opt: the split (and any facet columns) ride the explode as
    // passthrough columns instead of being joined back onto the
    // exploded shingle frame — the join-back shuffled the whole
    // shingle frame on doc_id and, at corpus scale, dangled a
    // data-sized doc-table broadcast in front of the planner
    val sets = Dedup.shingleSetsWith(
      relevant.withColumn("__split", col(splitCol)),
      idCol, textCol, n, "__split" +: extraCols)
    // materialized + explicitly sized (Dedup.sizedGramSide): Spark
    // does not model explode fan-out, so the static estimate of a
    // post-explode distinct can underestimate by orders of magnitude
    // and BROADCAST the train shingle index — the one side that must
    // never broadcast at scale (SURVEY §28.6 measured this exact
    // rogue-broadcast class on the C8 scrub: 5.5M rows / 384 MiB
    // hash-relation past the 10 MB threshold). The count-then-hint
    // keeps the small case broadcast and the big case sort-merge.
    val trainSh = Dedup.sizedGramSide(Materializer.of(df.sparkSession)(
      sets.filter(col("__split") === trainVal)
        .select("sh").distinct().withColumn("__hit", lit(1L))))
    sets.filter(col("__split") === testVal)
      .join(trainSh, Seq("sh"), "left")
      .groupBy(col("doc_id") +: extraCols.map(col): _*)
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
  }

  /** C1b: per-eval-suite contamination ATTRIBUTION — the C8b faceting
    * discipline ([[Dedup.scrubAttribution]]) applied to the AUDIT
    * side: a release datasheet wants the [[ngramOverlap]] counts
    * blamed per eval suite, not one undifferentiated test-split
    * number. Each test doc carries its suite (`suiteCol`); the per-doc
    * audit is IDENTICAL to C1 (same train shingle index, same
    * eval-blocked join, the suite rides the existing doc-keyed
    * aggregate as a functionally-dependent grouping key — zero extra
    * shuffle width), then one suite-cardinality rollup: docs audited,
    * docs over the contamination threshold, gram totals, and the
    * suite's pooled overlap fraction.
    *
    * Scale shape: inherits C1's — the only additions are a
    * passthrough column on the test side and a second aggregate whose
    * input is one row per test doc and whose output is suite-
    * cardinality. The train index keeps the [[Dedup.sizedGramSide]]
    * broadcast/sort-merge sizing guard.
    *
    * Audit-coverage accounting: `n_docs` counts test docs that
    * produced at least one n-gram — a doc shorter than `n` tokens has
    * nothing to audit and is excluded from the per-doc core. So a
    * datasheet reader can't mistake `n_docs` for the suite's full
    * size, `n_docs_skipped` reports those short docs explicitly
    * (computed from one suite-cardinality count over the test split —
    * no extra shingling pass). A suite consisting ONLY of short docs
    * still has no row (there is nothing audited to report on).
    *
    * `overlap_frac` is cut with the avg4 floor ladder
    * (floor(x*1e4)/1e4), not round: rounding a double is
    * engine-ambiguous at half ties (Spark rounds the shortest decimal
    * re-rendering, DuckDB the binary value — SURVEY §30.4), and a
    * pooled n_hit/n_shingles landing on a 1e-4 half tie would flake
    * the bit-exact gate.
    */
  def ngramOverlapBy(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, suiteCol: String, n: Int,
      trainVal: String = "train", testVal: String = "test",
      thrNum: Long = 1, thrDen: Long = 5): DataFrame = {
    val totals = df.filter(col(splitCol) === testVal)
      .groupBy(col(suiteCol).as("__suite_t"))
      .agg(count(lit(1)).as("__n_total"))
    perDocOverlap(df, idCol, textCol, splitCol, Seq(suiteCol), n,
        trainVal, testVal)
      .groupBy(col(suiteCol).as("suite"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_hit") * thrDen >= col("n_shingles") * thrNum)
          .cast("long")).as("n_contaminated"),
        sum(col("n_shingles")).as("n_shingles"),
        sum(col("n_hit")).as("n_hit"))
      // suite vocabulary is datasheet-sized — broadcast, null-safe (a
      // null suite is a legitimate facet and must keep its skip count)
      .join(broadcast(totals), col("suite") <=> col("__suite_t"), "left")
      .select(col("suite"), col("n_docs"),
        (coalesce(col("__n_total"), lit(0L)) - col("n_docs"))
          .as("n_docs_skipped"),
        col("n_contaminated"), col("n_shingles"), col("n_hit"),
        (floor(col("n_hit") / col("n_shingles") * 10000) / 10000)
          .as("overlap_frac"))
  }

  /** C4: per-document n-gram NOVELTY against an ARBITRARY reference
    * corpus — the two-table generalization of [[ngramOverlap]] (which
    * needs both sides in one frame behind a split column), and the
    * inverse reading: how much of this document has the model's
    * training set NOT seen? The curation signal behind "prefer novel
    * documents" mixing policies; 1.0 = fully novel, 0.0 = every gram
    * already in the reference.
    *
    * Same scale shape as C1: the reference reduces to a distinct
    * shingle-hash set, one hash-keyed join (sort-merge friendly, never
    * a broadcast of a 100 TB reference), per-doc counts integer-exact.
    */
  def noveltyVsReference(df: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val docSets = Dedup.shingleSets(df, idCol, textCol, n)
    // materialized + sized — same rogue-broadcast guard as
    // [[ngramOverlap]]'s trainSh
    val refSh = Dedup.sizedGramSide(Materializer.of(df.sparkSession)(
      Dedup.shingleSets(reference, idCol, textCol, n)
        .select("sh").distinct().withColumn("__hit", lit(1L))))
    docSets.join(refSh, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        round(lit(1.0) - col("n_seen") / col("n_grams"), 4).as("novelty"))
  }
}
