package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE merge training (Sennrich, Haddow & Birch, ACL 2016) — the
  * subword vocabulary learner behind every modern tokenizer, as a
  * distributed Spark job (SURVEY.md §2.3 T14).
  *
  * Trains on the DISTINCT-WORD frequency table (the standard
  * formulation): the corpus collapses to (word, count) in one
  * partial-aggregated pass, and every subsequent iteration touches
  * only that table — at 100 TB the corpus is read ONCE; the k merge
  * rounds run over a words table that is orders of magnitude smaller
  * and lineage-truncated each round through the [[Materializer]] seam
  * (so round N never replays rounds 1..N-1).
  *
  * Each iteration: (1) weighted symbol-pair counts — one map-side-
  * combinable aggregation over the words table; (2) the argmax pair
  * (count DESC, then lexicographic left, right — a total order, so
  * the learned merges are deterministic), a driver-side single-row
  * collect like any iterative fit; (3) the merge applied as a
  * LEFT-TO-RIGHT greedy fold over each word's symbol string — the
  * canonical BPE application order, expressed as the identical string
  * fold on both engines (Spark `aggregate` == DuckDB `list_reduce`
  * with a VARCHAR accumulator), so the oracle reproduces training
  * end-to-end: same pairs, same counts, same merges.
  *
  * Scope: words are lowercase-ASCII tokens (`^[a-z]+$`) — the
  * cross-engine-safe regex alphabet; production tokenizers add
  * byte-fallback around exactly this core.
  */
object Bpe {

  /** One row per learned merge: (iter 1-based, left, right,
    * pair_count at selection time).
    */
  def train(df: DataFrame, textCol: String, merges: Int,
      minWordCount: Long = 1L): DataFrame =
    trainWithVocab(df, textCol, merges, minWordCount)._1

  /** The trained tokenizer artifact pair: (learned merges, the vocab
    * segmented by them — one row (word, syms, wc) with `syms` the
    * space-joined subword sequence). The segmented vocab IS the
    * serving-time tokenizer table: segmenting a new word replays the
    * merges; segmenting a KNOWN word is a broadcast lookup.
    */
  def trainWithVocab(df: DataFrame, textCol: String, merges: Int,
      minWordCount: Long = 1L): (DataFrame, DataFrame) = {
    require(merges > 0, s"merges=$merges")
    val spark = df.sparkSession
    val mat = Materializer.of(spark)

    // (word, count) -> initial symbol string 'h e l l o'
    var words = mat.eager(
      // no scan-parallelism guard here: a token-keyed count with a
      // light map side — the round-robin's partial-agg dedup loss
      // outweighs the tokenize parallelism (the qHoppingDistinct
      // finding)
      df.select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
        .filter(col("token").rlike("^[a-z]+$"))
        .groupBy(col("token")).agg(count(lit(1)).as("wc"))
        .filter(col("wc") >= minWordCount)
        .select(col("token").as("word"),
          trim(regexp_replace(col("token"), "(.)", "$1 ")).as("syms"),
          col("wc")))

    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (i <- 1 to merges) {
      val best = pairCounts(words)
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      require(best.nonEmpty, s"corpus exhausted after ${i - 1} merges")
      val (l, r, c) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      learned += ((i, l, r, c))
      words = mat.eager(
        words.select(col("word"), mergeFold(col("syms"), l, r).as("syms"),
          col("wc")))
    }
    import spark.implicits._
    (learned.result().toDF("iter", "left", "right", "pair_count"), words)
  }

  /** Weighted adjacent-pair counts over the symbol strings. */
  private def pairCounts(words: DataFrame): DataFrame =
    words.select(col("wc"), split(col("syms"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(0, size(a) - 2)," +
          " i -> struct(a[i] AS l, a[i + 1] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wc")).as("c"))

  /** The canonical greedy left-to-right merge of pair (l, r) over a
    * space-separated symbol string, as a sequential fold: when the
    * accumulator's LAST symbol is `l` and the next symbol is `r`,
    * replace the tail with the merged symbol (which then cannot
    * re-match as `l` — it is strictly longer), else append. The space
    * separator makes the tail test exact (`ends_with(acc, ' l')`
    * cannot fire inside a longer symbol). DuckDB twin: [[mergeFoldSql]].
    */
  private def mergeFold(syms: Column, l: String, r: String): Column =
    aggregate(
      split(syms, " "), lit(""),
      (acc: Column, x: Column) =>
        when(acc === "", x)
          .when(acc === lit(l) && x === lit(r), lit(l + r))
          .when(acc.endsWith(lit(" " + l)) && x === lit(r),
            concat(acc.substr(lit(1), length(acc) - lit(l.length + 1)),
              lit(" " + l + r)))
          .otherwise(concat(acc, lit(" "), x)))

  /** SQL twin of [[mergeFold]] for oracle authoring — `l`/`r` are SQL
    * expressions (typically columns of a cross-joined 1-row argmax
    * CTE), so the oracle can LEARN the merge in-query. list_reduce's
    * missing init (first element seeds the accumulator) equals the
    * empty-string branch of the Spark fold exactly.
    */
  def mergeFoldSql(syms: String, l: String, r: String): String =
    s"""list_reduce(string_split($syms, ' '), (acc, x) ->
       |  CASE WHEN acc = $l AND x = $r THEN $l || $r
       |       WHEN ends_with(acc, ' ' || $l) AND x = $r
       |         THEN substr(acc, 1, length(acc) - length($l) - 1) || ' ' || $l || $r
       |       ELSE acc || ' ' || x END)""".stripMargin
}
