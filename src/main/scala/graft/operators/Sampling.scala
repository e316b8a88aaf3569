package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Deterministic dataset splitting and sampling (SURVEY.md §2.3) —
  * the assignment operators every training pipeline runs before and
  * after curation. Both are pure row-local hash projections: no
  * shuffle, no RNG state, stable under re-runs, retries, and
  * repartitioning (Spark's randomSplit is none of those — sampling
  * with a seed still depends on partition layout), and reproducible
  * by any engine that can compute md5.
  */
object Sampling {

  /** Hash bucket in [0, buckets): md5-derived, salted so independent
    * splits/samples decorrelate.
    */
  def bucketOf(c: Column, salt: String, buckets: Int): Column =
    Hashing.md5Long60(concat(lit(salt), lit("_"), c.cast("string"))) % buckets

  def bucketOfSql(e: String, salt: String, buckets: Int): String =
    s"(${Hashing.md5Long60Sql(s"'${salt}_' || CAST(($e) AS VARCHAR)")} % $buckets)"

  /** Assign `train` / `val` / `test` by hash percentile of the id —
    * percentages out of 100; the remainder is test.
    */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int, valPct: Int,
      salt: String = "split"): DataFrame =
    df.withColumn("split", hashSplitCol(col(idCol), trainPct, valPct, salt))

  /** The split label as a ROW-LOCAL expression of the id (r17 opt):
    * the split is a pure hash of the id, so a consumer that already
    * holds the id never needs to join the split table back — apply
    * the expression in place (q_split_leakage dropped two id-keyed
    * joins this way). Identical label to [[hashSplit]] by
    * construction.
    */
  def hashSplitCol(id: Column, trainPct: Int, valPct: Int,
      salt: String = "split"): Column = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split: train=$trainPct val=$valPct")
    val b = bucketOf(id, salt, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Null-safe key rendering: a null stratum/source is a real category
    * in messy corpora and must be sampled like any other, not silently
    * dropped by null-propagating concat/join.
    */
  private[graft] def keyOf(c: Column): Column =
    coalesce(c.cast("string"), lit("\u0000null"))

  /** Keep a deterministic ~`permille`/1000 of each stratum: rows are
    * kept where the (stratum, id) hash falls under the threshold, so
    * every stratum is sampled at the same rate regardless of size —
    * and the kept set is stable as the corpus grows (a row's fate
    * never depends on other rows). Null strata sample like any other
    * stratum (hashSplit likewise routes a null id deterministically —
    * to 'test', since its hash is null and no when-branch fires).
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      permille: Int, salt: String = "sample"): DataFrame = {
    require(permille >= 0 && permille <= 1000, s"invalid permille=$permille")
    val key = concat(keyOf(col(stratumCol)), lit("|"),
      col(idCol).cast("string"))
    df.filter(bucketOf(key, salt, 1000) < permille)
  }

  /** P9: exact-n quota sampling — keep EXACTLY min(n, stratum size)
    * rows per stratum, chosen by deterministic hash order (md5 of the
    * salted id, ties broken by id), so the quota set is reproducible
    * across runs, engines, and partition layouts, and quotas for
    * under-filled strata degrade to keep-all instead of upsampling.
    * Rate-based sampling (stratifiedSample) cannot hit a row BUDGET;
    * this is the operator behind "50k docs per source" data cards.
    *
    * Scale shape: one window sort per stratum — strata are enumerable
    * sources, so the windows distribute across them; a pathological
    * giant stratum would swap in the RankSelect bucket device (select
    * the n-th smallest hash as a threshold, then filter) — same
    * selection arithmetic, no one-task sort.
    */
  def quotaSample(df: DataFrame, stratumCol: String, idCol: String,
      n: Int, salt: String = "quota"): DataFrame = {
    require(n > 0, s"invalid quota n=$n")
    val key = md5(concat(lit(salt), lit("_"), col(idCol).cast("string")))
    val w = Window.partitionBy(keyOf(col(stratumCol)))
      .orderBy(key, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** [[quotaSample]] on the RankSelect bucket device — the arm for a
    * PATHOLOGICAL giant stratum, where the window form's per-stratum
    * sort is a one-task straggler. Selects the n-th smallest
    * (hash, id) pair per stratum arithmetically instead of sorting:
    *
    *   1. bucket every row by the top bits of its 60-bit md5 prefix
    *      (md5 is uniform, so buckets are balanced by construction —
    *      no min/max range pass needed, unlike RankSelect.quantiles);
    *   2. per-(stratum, bucket) histogram + exclusive offsets (a
    *      window over <= `buckets` rows per stratum);
    *   3. locate the quota boundary's bucket arithmetically and sort
    *      ONLY that bucket's rows (~n_stratum/buckets of the data) to
    *      read off the threshold (hash, id) pair;
    *   4. keep rows strictly under the threshold prefix, and rows AT
    *      the prefix up to the full (md5, id) tuple — exact ordering,
    *      hash-prefix collisions included.
    *
    * The bucketing is order-preserving for the window form's
    * (md5, id) sort order — equal-length lowercase hex compares
    * lexicographically as the 128-bit value, and the 60-bit prefix is
    * its leading bits — so the kept set is IDENTICAL to
    * [[quotaSample]]'s row for row (q_quota_sample_rs gates this
    * against the window form's unchanged oracle). Strata at/under
    * quota skip the kernel entirely (keep-all). The stratum-sized side
    * tables are broadcast, as in RankSelect.quantiles.
    */
  def quotaSampleRankSelect(df: DataFrame, stratumCol: String, idCol: String,
      n: Int, salt: String = "quota", buckets: Int = 1024): DataFrame = {
    require(n > 0, s"invalid quota n=$n")
    require(buckets >= 2 && Integer.bitCount(buckets) == 1 && buckets <= (1 << 20),
      s"buckets=$buckets must be a power of two in [2, 2^20]")
    val shift = 60 - Integer.numberOfTrailingZeros(buckets)
    val cols = df.columns.map(col).toSeq
    val base = df
      .withColumn("__g", keyOf(col(stratumCol)))
      .withColumn("__k", md5(concat(lit(salt), lit("_"), col(idCol).cast("string"))))
      .withColumn("__p", Hashing.md5Long60(
        concat(lit(salt), lit("_"), col(idCol).cast("string"))))
    val stats = base.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    // under-quota strata: keep-all, no kernel work
    val small = base
      .join(broadcast(stats.filter(col("__n") <= n).select(col("__g"))), "__g")
      .select(cols: _*)
    val big = base
      .join(broadcast(stats.filter(col("__n") > n).select(col("__g"))), "__g")
      .withColumn("__b", shiftright(col("__p"), shift))
    val hist = big.groupBy(col("__g"), col("__b")).agg(count(lit(1)).as("__c"))
    val off = hist.withColumn("__off",
      coalesce(sum(col("__c")).over(Window.partitionBy(col("__g"))
        .orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val target = off
      .filter(col("__off") < n && lit(n.toLong) <= col("__off") + col("__c"))
      .select(col("__g"), col("__b"), (lit(n.toLong) - col("__off")).as("__r"))
    // sort only the boundary bucket, by the FULL window-form ordering
    val thr = big.join(broadcast(target), Seq("__g", "__b"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__g"), col("__b"))
          .orderBy(col("__k"), col(idCol))))
      .filter(col("__rn") === col("__r"))
      .select(col("__g"), col("__p").as("__tp"), col("__k").as("__tk"),
        col(idCol).as("__tid"))
    val kept = big.join(broadcast(thr), "__g")
      .filter(col("__p") < col("__tp") ||
        (col("__p") === col("__tp") &&
          struct(col("__k"), col(idCol)) <= struct(col("__tk"), col("__tid"))))
      .select(cols: _*)
    small.unionByName(kept)
  }

  /** P5: source mixing — downsample each source toward a target mix.
    * `shares(source)` is the share of the output each source should
    * contribute (missing sources get `defaultShare`), `totalFrac` the
    * output size as a fraction of the corpus. Per-source keep
    * threshold: min(1, totalFrac * N * share / n_source), applied as a
    * deterministic id-hash cut — so the kept set is reproducible,
    * retry-stable, and stable under repartitioning. Oversubscribed
    * sources (share asking for more rows than exist) cap at keep-all
    * rather than upsampling.
    *
    * Scale shape: the per-source counts are one partial-aggregated
    * groupBy producing a sources-sized table that broadcast-joins back
    * onto the corpus — no shuffle of the data rows at all.
    */
  def mixSample(df: DataFrame, idCol: String, sourceCol: String,
      shares: Seq[(String, Double)], defaultShare: Double,
      totalFrac: Double, salt: String = "mix"): DataFrame = {
    // group/join on the null-safe rendering, so a null source samples
    // at defaultShare instead of being dropped by the join
    df.withColumn("__src", keyOf(col(sourceCol)))
      .join(broadcast(mixProfile(df, sourceCol, shares, defaultShare, totalFrac)),
        "__src")
      .filter(bucketOf(col(idCol), salt, 1000000) < col("__thr"))
      .drop("__src", "__thr")
  }

  /** P6: deterministic corpus shuffle — training-order randomization
    * as a pure function of (salt, id): every run, engine, and
    * partition layout produces the identical permutation; re-shuffling
    * between epochs is just a new salt. `shuffle_rank` is the 0-based
    * position in the permuted order.
    *
    * Scale shape: a global row_number needs a total order, but an
    * unpartitioned window is a one-task sort of the corpus. Instead
    * the md5 key's first byte ranges rows into 256 buckets:
    * rank = bucket offset (exclusive running sum over the 256-row
    * bucket histogram — the only unpartitioned window, and it runs on
    * 256 rows) + row_number within the bucket (a keyed, distributed
    * window). The same plan shape holds at 500 rows or 100 TB — the
    * TeraSort range-partition trick in DataFrame ops.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
      salt: String = "shuffle"): DataFrame = {
    val keyed = df.withColumn("__key",
        md5(concat(lit(salt), lit("_"), col(idCol).cast("string"))))
      .withColumn("__b", substring(col("__key"), 1, 2))
    val offsets = keyed.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum(col("__n")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    val w = Window.partitionBy(col("__b")).orderBy(col("__key"), col(idCol))
    keyed.join(broadcast(offsets), "__b")
      .withColumn("shuffle_rank", col("__off") + row_number().over(w) - 1)
      .drop("__key", "__b", "__off")
  }

  /** P8: quality-weighted proportional sampling — keep each row
    * independently with probability proportional to a per-row weight
    * (a quality score, a length prior, an importance estimate),
    * normalized so the EXPECTED output size is `targetFrac * N`. Rows
    * whose normalized probability reaches 1 are kept always (the
    * oversubscription cap, same as mixSample); null/negative weights
    * clamp to 0 and are never kept; all-zero weights keep nothing.
    * The keep decision is the deterministic id-hash cut every
    * operator in this file uses — reproducible across runs, engines,
    * and partition layouts.
    *
    * Rejected alternative (recorded so it is not redone): the
    * Efraimidis-Spirakis weighted-reservoir key u^(1/w) draws an
    * EXACT output size, but needs pow/ln, whose last-ulp behavior is
    * library-dependent — selection at the boundary could differ
    * between engines, breaking the bit-exact gate. The proportional
    * Bernoulli form uses only IEEE *,/ and comparisons.
    *
    * Scale shape: one partial-aggregated pass computes the (exact
    * decimal) weight sum and count into a ONE-ROW profile that
    * broadcast-joins back onto the corpus — no shuffle of data rows,
    * same as mixSample. The scale factor therefore depends on the
    * corpus aggregate: re-profiling after growth changes thresholds
    * (by design — targetFrac tracks the corpus), while within one
    * profile a row's fate is independent of every other row.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      targetFrac: Double, salt: String = "wsample"): DataFrame =
    weightedFilter(df, idCol, weight,
      weightedProfile(df, weight, targetFrac), salt)

  /** The one-row (`__scale`) profile behind [[weightedSample]]:
    * scale = targetFrac * N / sum(weights), with the sum computed as
    * an exact decimal (order-independent) and rounded to scale 6
    * BEFORE the double cast — the Shared.moneySum discipline, so both
    * engines derive the identical IEEE scale. A STREAMING pipeline
    * broadcasts exactly this table onto the live stream
    * (graft.streaming.StreamingCuration.weightedFilter) — the same
    * profile-then-filter split as mixProfile/mixFilter.
    */
  def weightedProfile(df: DataFrame, weight: Column,
      targetFrac: Double): DataFrame = {
    require(targetFrac >= 0.0 && targetFrac <= 1.0,
      s"invalid targetFrac=$targetFrac")
    val w = greatest(coalesce(weight.cast("double"), lit(0.0)), lit(0.0))
    df.agg(
        round(sum(w.cast("decimal(38,6)")), 6).cast("double").as("__wsum"),
        count(lit(1)).as("__n"))
      .select(((lit(targetFrac) * col("__n")) / col("__wsum"))
        .as("__scale"))
  }

  /** Apply a weighted-sampling profile: keep rows where the id hash
    * falls under floor(1e6 * min(1, weight * scale)) permillion.
    * Works unchanged on a streaming DataFrame (pure row-local math
    * plus one broadcast join).
    */
  def weightedFilter(df: DataFrame, idCol: String, weight: Column,
      profile: DataFrame, salt: String = "wsample"): DataFrame = {
    val w = greatest(coalesce(weight.cast("double"), lit(0.0)), lit(0.0))
    df.crossJoin(broadcast(profile))
      .filter(bucketOf(col(idCol), salt, 1000000) <
        floor(lit(1e6) * least(lit(1.0), w * col("__scale"))).cast("long"))
      .drop("__scale")
  }

  /** P5b: temperature-flattened source mixing — the multilingual-
    * pretraining standard where SMALL sources are up-weighted relative
    * to their size: share_s ∝ sqrt(n_s) (temperature T = 2), so a
    * source 100x larger contributes only 10x the share. Same
    * deterministic id-hash cut and keep-all oversubscription cap as
    * [[mixSample]]; the difference is that the share comes from the
    * corpus itself instead of a hand-written table.
    *
    * Temperature is FIXED at 2: sqrt is the one power IEEE 754
    * guarantees correctly rounded, so every engine computes the
    * identical share; arbitrary-alpha pow differs in the last ulp
    * across libm implementations and would break reproducibility (the
    * same reason weightedSample rejected Efraimidis-Spirakis keys).
    * The share denominator is an exact decimal sum of round-6 weights
    * (order-independent), double-cast once — the moneySum discipline.
    *
    * Scale shape: identical to mixSample — a sources-sized profile
    * broadcast back onto the corpus; no data-row shuffle.
    */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
      totalFrac: Double, salt: String = "tmix"): DataFrame =
    df.withColumn("__src", keyOf(col(sourceCol)))
      .join(broadcast(temperatureMixProfile(df, sourceCol, totalFrac)), "__src")
      .filter(bucketOf(col(idCol), salt, 1000000) < col("__thr"))
      .drop("__src", "__thr")

  /** The per-source (`__src`, `__thr`) profile behind
    * [[temperatureMix]] — broadcastable onto a live stream like the
    * other profile tables.
    */
  def temperatureMixProfile(df: DataFrame, sourceCol: String,
      totalFrac: Double): DataFrame = {
    require(totalFrac >= 0.0 && totalFrac <= 1.0,
      s"invalid totalFrac=$totalFrac")
    val counts = df.withColumn("__src", keyOf(col(sourceCol)))
      .groupBy(col("__src")).agg(count(lit(1)).as("__n"))
      .withColumn("__w", round(sqrt(col("__n")), 6).cast("decimal(18,6)"))
    counts
      .crossJoin(broadcast(counts.agg(
        round(sum(col("__w")), 6).cast("double").as("__wsum"),
        sum(col("__n")).as("__total"))))
      .withColumn("__thr", least(lit(1000000L),
        floor(lit(1e6) * lit(totalFrac) * col("__total")
          * (col("__w").cast("double") / col("__wsum")) / col("__n"))
          .cast("long")))
      .select(col("__src"), col("__thr"))
  }

  /** The per-source keep-threshold table behind [[mixSample]]:
    * (`__src` null-safe source key, `__thr` kept permillion). Computed
    * once from a batch profile pass; a STREAMING pipeline broadcasts
    * exactly this table onto the live stream
    * (graft.streaming.StreamingCuration.mixFilter) — the
    * profile-then-filter split is how a mix policy runs continuously
    * without unbounded per-source state.
    */
  def mixProfile(df: DataFrame, sourceCol: String,
      shares: Seq[(String, Double)], defaultShare: Double,
      totalFrac: Double): DataFrame = {
    val keyed = df.withColumn("__src", keyOf(col(sourceCol)))
    val shareExpr = shares.foldLeft(lit(defaultShare)) { case (acc, (s, w)) =>
      when(col("__src") === s, lit(w)).otherwise(acc)
    }
    keyed.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
      .crossJoin(broadcast(df.select(count(lit(1)).as("__total"))))
      .withColumn("__thr", least(lit(1000000L),
        floor(lit(1e6) * lit(totalFrac) * col("__total") * shareExpr / col("__n"))
          .cast("long")))
      .select(col("__src"), col("__thr"))
  }
}
