package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential change detection over keyed count series (SURVEY.md §2.1
  * R20/R21) — the online complement to the level baselines
  * (`Baseline.avg/max`, reference main.go:271-279) and the robust MAD
  * scorer: CUSUM detects a SUSTAINED shift that never trips a
  * per-bucket threshold, and the trend fit turns a window of buckets
  * into a direction (is this network ramping?).
  *
  * Everything is integer arithmetic until the final display division,
  * so a SQL oracle agrees bit-for-bit.
  */
object Changepoint {

  /** R20: one-sided (upper) CUSUM over an already-bucketed series.
    *
    * The textbook recurrence `s_i = max(0, s_{i-1} + x_i - k)` is
    * sequential, but it has a closed form over prefix sums: with
    * `P_i = sum_{j<=i} (x_j - k)` (and the implicit `P_0 = 0`),
    *
    *   s_i = P_i - min(0, min_{j<=i} P_j)
    *
    * — so the whole series computes as two cumulative windows per key,
    * no recursion, no UDF, distributed across keys. All-integer for
    * integer `x` and allowance `k`; `alarm` fires where s >= h.
    *
    * Scale shape: the windows partition by key, so the sort distributes
    * across the key universe (networks); no global sort, no state.
    */
  def cusumSeries(series: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, allowance: Long, threshold: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series
      .withColumn("__cum", sum(col(valueCol) - allowance).over(w))
      .withColumn("__rm", min(col("__cum")).over(w))
      .select(col(keyCol), col(orderCol), col(valueCol).cast("long"),
        (col("__cum") - least(col("__rm"), lit(0L))).as("cusum"))
      .withColumn("alarm",
        (col("cusum") >= threshold).cast("int"))
  }

  /** [[cusumSeries]] over raw events: per-(key, bucket) counts first
    * (one partial-aggregated shuffle), then the CUSUM windows. Buckets
    * are observed buckets only — compose with the date-spine gap fill
    * (A20) upstream when empty buckets must count as zero.
    *
    * Bucketing contract (shared with [[trendEvents]] and the streaming
    * ticks derivations): `unix_micros div bucket` truncates toward
    * zero, so pre-1970 timestamps land one bucket later than floor
    * division would place them — ordering stays correct, only the
    * bucket LABEL differs; feed `ts >= epoch` (every gated corpus
    * does) when bucket ids must match a floor-div engine exactly.
    */
  def cusumEvents(events: DataFrame, keyCol: String, tsCol: String,
      bucketSeconds: Long, allowance: Long, threshold: Long): DataFrame = {
    val bucketUs = bucketSeconds * 1000000L
    val counts = events
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("bucket", expr(s"__us div $bucketUs"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("x"))
    cusumSeries(counts, keyCol, "bucket", "x", allowance, threshold)
  }

  /** R24: burst-duration statistics — the gaps-and-islands pattern
    * over keyed bucket counts: maximal runs of CONSECUTIVE buckets at
    * or above `threshold` (an empty bucket breaks a run — silence is
    * not part of a burst), reported per key as burst count, longest
    * burst, total burst buckets, and first burst start. The question
    * CUSUM's alarm does not answer: not "is something sustained
    * happening" but "how long do the attack waves last".
    *
    * Island id = bucket − row_number over the above-threshold rows:
    * consecutive buckets share it, any gap (missing or below-threshold
    * bucket) shifts it — one keyed window + two aggregations,
    * all-integer. Keys with no burst have no row (nothing to report).
    */
  def burstStats(events: DataFrame, keyCol: String, tsCol: String,
      bucketSeconds: Long, threshold: Long): DataFrame = {
    val bucketUs = bucketSeconds * 1000000L
    val above = events
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("bucket", expr(s"__us div $bucketUs"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("x"))
      .filter(col("x") >= threshold)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    above
      .withColumn("__grp", col("bucket") - row_number().over(w))
      .groupBy(col(keyCol), col("__grp"))
      .agg(count(lit(1)).as("__len"), min(col("bucket")).as("__start"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_bursts"),
        max(col("__len")).as("longest_burst"),
        sum(col("__len")).as("burst_buckets"),
        min(col("__start")).as("first_burst_bucket"))
  }

  /** R25: source-concentration profile — per key (network), how
    * concentrated the traffic is across sub-sources (hosts):
    * Herfindahl-Hirschman index HHI = Σ(c_i/total)² plus the top
    * source's share. THE ddos triage signal the level baselines miss:
    * the same packet rate means different things from one host (HHI→1,
    * a compromised box) vs thousands (HHI→0, a botnet).
    *
    * Exact integer moments (Σc_i², max c_i, total — squares safe to
    * ~3·10^9 rows per source), ONE IEEE division per display column.
    * Two keyed aggregations, both map-side combinable.
    */
  def concentration(events: DataFrame, keyCol: String,
      sourceCol: String): DataFrame = {
    val per = events.groupBy(col(keyCol), col(sourceCol))
      .agg(count(lit(1)).as("__c"))
    per.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("__c")).as("__total"),
        sum(col("__c") * col("__c")).as("__sumsq"),
        max(col("__c")).as("__maxc"))
      .select(col(keyCol), col("n_sources"),
        col("__total").as("n_events"),
        round(col("__sumsq").cast("double")
          / (col("__total") * col("__total")).cast("double"), 6).as("hhi"),
        round(col("__maxc").cast("double") / col("__total").cast("double"), 6)
          .as("top_share"))
  }

  /** R21: per-key OLS trend of bucket counts against the bucket index
    * (relative to each key's first bucket, which keeps every moment sum
    * small).
    *
    * slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), intercept from the
    * normal equation. Moment sums and cross products accumulate in
    * decimal(38,0) (per-row products cast to decimal BEFORE
    * multiplying) — Spark's non-ANSI sum(long) would wrap silently at
    * 2^63, decimal saturates to NULL instead, and the guard below
    * converts that NULL to a RAISE; the DuckDB twin's HUGEINT raises
    * natively. Exact for any realistic bucket count (overflow needs
    * ~10^38 in a single moment). Each engine then performs one
    * identical exact-int->double cast per term and ONE IEEE division —
    * no accumulation-order dependence anywhere.
    *
    * One aggregation per key after the count pass; keys with a single
    * bucket have an undefined slope and are dropped (den = 0).
    */
  def trendEvents(events: DataFrame, keyCol: String, tsCol: String,
      bucketSeconds: Long): DataFrame = {
    val bucketUs = bucketSeconds * 1000000L
    val counts = events
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("bucket", expr(s"__us div $bucketUs"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("y"))
    val rel = counts
      .withColumn("x",
        col("bucket") - min(col("bucket")).over(Window.partitionBy(col(keyCol))))
    val d19 = "decimal(19,0)"
    val d38 = "decimal(38,0)"
    val agg = rel.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_buckets"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum(col("x").cast(d19) * col("y").cast(d19)).as("sxy"),
      sum(col("x").cast(d19) * col("x").cast(d19)).as("sxx"))
    val num = col("n_buckets") * col("sxy") - col("sx") * col("sy")
    val den = col("n_buckets") * col("sxx") - col("sx") * col("sx")
    // decimal overflow NULLs must raise, not vanish through the
    // den =!= 0 filter (NULL predicate drops the row silently)
    def loud(e: Column, what: String): Column = when(e.isNotNull, e)
      .otherwise(raise_error(lit(s"trendEvents: decimal(38,0) overflow " +
        s"in the OLS $what — key exceeds the documented bounds")))
    agg
      .withColumn("slope",
        round(loud(num, "numerator").cast("double") / den.cast("double"), 6))
      .filter(loud(den, "denominator") =!= 0)
      .withColumn("intercept",
        round((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n_buckets"), 6))
      .select(keyCol, "n_buckets", "slope", "intercept")
  }

  /** R27: heavy-change detection — the deltoids question (Cormode &
    * Muthukrishnan, "What's new?"): which keys' event counts CHANGED
    * most between the two most recent `windowSeconds` windows. The
    * triage signal the level detectors miss by design: CUSUM flags a
    * sustained shift on ONE key it is already watching; this ranks
    * ALL keys by shift size, surfacing the new talker that had no
    * baseline yesterday (n_prev = 0) and the one that went silent
    * (n_cur = 0) in the same table.
    *
    * End-anchored like the R23 z-score: [end − 2w, end − w) vs
    * [end − w, end]. One filtered scan, one map-side-combinable
    * aggregation per key, top-k via TakeOrderedAndProject (never a
    * global sort); all-integer except the display ratio (one IEEE
    * division against the add-one-smoothed base).
    */
  def heavyChange(events: DataFrame, keyCol: String, tsCol: String,
      windowSeconds: Long, topK: Int): DataFrame = {
    require(windowSeconds > 0 && topK > 0,
      s"want positive window/topK, got $windowSeconds/$topK")
    val counts = Baseline.anchored(events, tsCol)
      .filter(Baseline.within(tsCol, 2 * windowSeconds))
      .withColumn("__cur", Baseline.within(tsCol, windowSeconds).cast("long"))
      .groupBy(col(keyCol))
      .agg(sum(col("__cur")).as("n_cur"),
        sum(lit(1L) - col("__cur")).as("n_prev"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("abs_delta").desc, col(keyCol))
    counts
      .select(col(keyCol), col("n_cur"), col("n_prev"),
        (col("n_cur") - col("n_prev")).as("delta"),
        abs(col("n_cur") - col("n_prev")).as("abs_delta"),
        round(col("n_cur") / (col("n_prev") + lit(1.0)), 6).as("ratio"))
      .orderBy(col("abs_delta").desc, col(keyCol))
      .limit(topK)
      .withColumn("rnk", row_number().over(w))
  }

  /** R29: threshold alerting with HYSTERESIS — the reference's actual
    * ban/unban semantics (/root/reference/main.go raises a ban when a
    * metric exceeds its threshold and clears it later at a LOWER bar;
    * FastNetMon's unban_threshold): an alert raises when the value
    * exceeds `hi` and clears only when it falls to `lo` or below, so
    * a series oscillating inside (lo, hi] never flaps.
    *
    * The insight that makes the sequential state machine ONE window:
    * the alert state at tick t is fully determined by the LAST
    * crossing signal at or before t — raise (v > hi) or clear
    * (v ≤ lo); ticks in between emit no signal. That is exactly a
    * last-observation-carried-forward over the signal column (the A52
    * device: `last(signal, ignoreNulls)` over the key-ordered window,
    * default 0 before any signal), identical on both engines — no
    * fold, no recursion, no UDF.
    *
    * Returns one row per input tick: (key, t, v, alert, event) with
    * event 'raise'/'clear' on transitions, NULL elsewhere.
    *
    * Scale shape: one per-key ordered window pass (the A19 class).
    * The live twin is [[graft.streaming.StreamingHysteresis]] — one
    * boolean per key forever.
    */
  def hysteresis(series: DataFrame, keyCol: String, tCol: String,
      vCol: String, hi: Long, lo: Long): DataFrame = {
    require(lo < hi, s"need lo < hi, got lo=$lo hi=$hi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val signal = when(col("v") > hi, 1L).when(col("v") <= lo, 0L)
    series
      .select(col(keyCol).as("key"), col(tCol).cast("long").as("t"),
        col(vCol).cast("long").as("v"))
      .withColumn("alert",
        coalesce(last(signal, ignoreNulls = true).over(w), lit(0L)))
      .withColumn("__prev",
        coalesce(lag(col("alert"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("key")).orderBy(col("t"))), lit(0L)))
      .withColumn("event",
        when(col("alert") === 1L && col("__prev") === 0L, "raise")
          .when(col("alert") === 0L && col("__prev") === 1L, "clear"))
      .select(col("key"), col("t"), col("v"), col("alert"), col("event"))
  }
}
