package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-profiling operators — the audit pass a 100 TB pipeline runs
  * BEFORE committing to a partitioning/join strategy (and the engine
  * feature behind `ANALYZE`-style statistics):
  *
  *   - [[keySkew]]: per-key cardinality histogram on log2 buckets — the
  *     direct input to the salt-or-not / AQE-skew-threshold decision.
  *     One groupBy(key) + one tiny groupBy(bucket); the per-key counts
  *     are exactly the map-side-combinable shape that scales.
  *   - [[histogram]]: per-group equi-width value histogram — the data
  *     distribution snapshot behind range-partition boundaries and
  *     outlier cuts. Two aggregations (group stats, then bin counts),
  *     both keyed, no sort.
  *   - [[columnProfile]]: per-column null/distinct/row counts — the
  *     completeness audit. One aggregation per column over one scan
  *     each; counts are exact (the sketch variant is A10's HLL).
  *
  * Every output is integer-exact, so the DuckDB oracle checks all three
  * bit-for-bit (log2 buckets via `length(bin(n)) - 1`, never floating
  * log; bin indexes mirror the identical IEEE expression op-for-op).
  */
object Profiling {

  /** Per-key cardinality histogram: one row per occupied log2 bucket of
    * the per-key row count, with how many keys land there, their total
    * rows, and the largest key inside. `bucket` = floor(log2(rows/key))
    * computed as `length(bin(n)) - 1` — integer bit-length arithmetic,
    * no float log to disagree at exact powers of two.
    */
  def keySkew(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__n"))
      .select((length(bin(col("__n"))) - 1).cast("int").as("bucket"),
        col("__n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("__n")).as("n_rows"),
        max(col("__n")).as("max_key_rows"))

  /** Per-group equi-width histogram of `valueCol` over `nBins` bins
    * spanning [group min, group max]. The bin index mirrors the exact
    * IEEE expression `floor((v - mn) * nBins / (mx - mn))` (clamped to
    * the last bin for v = mx and for single-valued groups), so an
    * oracle writing the same ops computes the same bins. Group stats
    * broadcast back onto the rows — two keyed aggregations, no sort.
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins=$nBins")
    val stats = df.groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))
    val bin = when(col("__mx") === col("__mn"), lit(0)).otherwise(
      least(lit(nBins - 1),
        floor((col(valueCol) - col("__mn")) * nBins / (col("__mx") - col("__mn")))
          .cast("int")))
    df.select(col(groupCol), col(valueCol))
      .join(broadcast(stats), groupCol)
      .select(col(groupCol), bin.cast("int").as("bin"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Per-column completeness profile: (column, n_rows, n_null,
    * n_distinct) with exact counts. `n_distinct` counts non-null
    * distinct values (COUNT(DISTINCT c) semantics on both engines).
    *
    * ONE scan computes the n_rows leg and all k n_null legs as k
    * conditional sums inside a single partial aggregate (exploded to
    * per-column rows), plus k scans each pruned to ONE column for its
    * COUNT(DISTINCT) leg. The row count is computed once instead of k
    * times, and each distinct scan ships only its own column.
    *
    * A single-scan no-Expand variant (encode every column to one
    * comparable type and explode) was rejected: a lossy-at-the-margin
    * cast (e.g. double -0.0 vs 0.0 stringify differently but group
    * identically) can silently change the distinct count.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
        .as(s"__null_$c"))
    val nulls = df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(s"__null_$c").as("n_null"))): _*))
        .as("__e"))
      .select(col("__e.col_name"), col("n_rows"), col("__e.n_null"))
    val distincts = cols.map { c =>
      df.select(col(c))
        .agg(countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_distinct"))
    }.reduce(_.unionAll(_))
    nulls.join(distincts, "col_name")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"))
  }

  /** SQL-side twin of [[histogram]]'s bin expression for oracle
    * authoring — kept next to the Scala definition so the two cannot
    * drift silently.
    */
  def histogramBinSql(v: String, mn: String, mx: String, nBins: Int): String =
    // outer CAST: DuckDB types `least(<literal>, INTEGER)` as BIGINT,
    // Spark as int — pin int32 on both engines
    s"CAST(CASE WHEN $mx = $mn THEN 0 ELSE " +
      s"least(${nBins - 1}, CAST(floor(($v - $mn) * $nBins / ($mx - $mn)) AS INTEGER)) END AS INTEGER)"
}
