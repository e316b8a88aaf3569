package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group order statistics WITHOUT a per-group sort — the
  * bucket-offset distributed rank device already proven by
  * TextAnalysis.vocabulary and Sampling.deterministicShuffle, applied
  * to quantile selection.
  *
  * Why: a `row_number().over(partitionBy(g).orderBy(v))` window sorts
  * an ENTIRE group in one task. That is spillable (disk, not OOM) but
  * a billion-row hot group at 100 TB is a one-task straggler on a
  * skewed shuffle key. Here the group's value range splits into
  * `buckets` order-preserving range buckets:
  *
  *   1. per-group (min, max, count) — one tiny aggregate,
  *   2. per-(group, bucket) histogram — one bounded aggregate,
  *   3. exclusive running offsets over the histogram — a window over
  *      at most `buckets` rows per group,
  *   4. the k-th element's bucket located arithmetically
  *      (off < k <= off + c), and only THAT bucket's rows ranked by a
  *      (group, bucket)-keyed window — each sort is ~n/buckets rows.
  *
  * Equal values always land in the same bucket (the bucket is a
  * monotonic function of the value), so bucket-local rank + offset IS
  * the global rank and ties cannot straddle a boundary. The selected
  * element is identical to the sort-window formulation's, so existing
  * oracles keep passing unchanged.
  *
  * Degenerate distributions (one value dominating a group) put the
  * mass in one bucket; its sort is still bounded by that value's
  * multiplicity, and a second bucketing level would apply the same
  * device recursively if a deployment ever needed it.
  *
  * Contract: null values are excluded from the population; infinite /
  * NaN values must be normalized out by the caller (they would poison
  * the min/max range split).
  */
object RankSelect {

  /** One row per group: `groupCol` plus one double column per entry of
    * `quantiles` — (output name, num, den) selects the element with
    * rank ceil(num * n / den), 1-based (the smallest rank r with
    * r * den >= num * n — the same integer rank selection as
    * Baseline's p95, so no float boundary exists anywhere). A zero
    * `num` clamps to rank 1, the group minimum (ceil gives rank 0,
    * which selects no element).
    *
    * The per-group stats/targets tables carry ONE row per group (per
    * group x quantile for targets) and are broadcast: groups are an
    * enumerable dimension (event types, networks) in every caller.
    */
  /** Exact global `row_number()` over `(valueCol [desc], tieBreak...)`
    * WITHOUT a corpus-sized SinglePartition sort — the same
    * bucket-offset device as [[quantiles]], applied to FULL ranking:
    *
    *   1. global (min, max) of the value — a scalar aggregate,
    *   2. each row keyed to an order-preserving range bucket (the
    *      fraction is flipped for descending order, so bucket 0 holds
    *      the FIRST-ranked rows either way),
    *   3. per-bucket counts → exclusive running offsets — one window
    *      over at most `buckets` rows (a bounded table, the documented
    *      scale-safe device),
    *   4. rows ranked by a BUCKET-KEYED window; offset + local rank IS
    *      the global rank because equal values share a bucket (the
    *      bucket is monotone in the value) and bucket boundaries
    *      respect the value order.
    *
    * The result is row-for-row identical to
    * `row_number().over(Window.orderBy(...))`, but the biggest sort is
    * ~n/buckets rows on a bucket-keyed shuffle instead of the whole
    * corpus through one task. Degenerate distributions (one dominant
    * value) bound the hot bucket by that value's multiplicity, same as
    * [[quantiles]].
    *
    * Contract: `valueCol` non-null (ENFORCED — a null would silently
    * land in the last bucket where the window form ranks nulls first,
    * so the range scalar counts nulls and raises loudly) and finite
    * (ALSO ENFORCED — the same scalar counts NaN/Inf, which would
    * otherwise bucket via floor(NaN)=0 and silently diverge from the
    * window form's NaN-ranks-largest order); `tieBreak` must make
    * the total order unique for a deterministic rank. An
    * unmaterialized `df` is evaluated THREE times (the driver-side
    * range scalar, the histogram lineage, and the rank side of the
    * offset join) — materialize it first if its lineage is expensive.
    * The (lo, hi) range is read driver-side at PLAN-BUILD
    * time (a physical range split cannot stay lazy, and the scalar
    * costs one map-side-combinable pass over the — ideally
    * checkpointed — input) and lands in the plan as
    * literals, saving the broadcast cross-join stage a column-side
    * range would need. The long→double cast of the range endpoints is
    * monotone, so bucket assignment stays order-preserving even past
    * 2^53.
    */
  def globalRowNumber(df: DataFrame, valueCol: String, rankName: String,
      descending: Boolean = false, tieBreak: Seq[String] = Seq.empty,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val v = col(valueCol)
    val vd = v.cast("double")
    val r = df.agg(min(v).cast("double"), max(v).cast("double"),
      count(lit(1)) - count(v),
      coalesce(sum(when(isnan(vd) || vd === Double.PositiveInfinity ||
        vd === Double.NegativeInfinity, 1L).otherwise(0L)), lit(0L))).head()
    require(r.getLong(2) == 0L,
      s"globalRowNumber: $valueCol has ${r.getLong(2)} null value(s) — " +
        "the range bucket cannot place them; filter or impute first")
    require(r.getLong(3) == 0L,
      s"globalRowNumber: $valueCol has ${r.getLong(3)} non-finite " +
        "value(s) (NaN/Infinity) — floor(NaN)=0 would bucket them low " +
        "while the window form ranks NaN largest; filter or impute first")
    val (lo, hi) =
      if (r.isNullAt(0)) (0.0, 0.0) else (r.getDouble(0), r.getDouble(1))
    val keyed =
      if (hi == lo) df.withColumn("__b", lit(0))
      else {
        val frac =
          if (descending) (lit(hi) - v.cast("double")) / lit(hi - lo)
          else (v.cast("double") - lit(lo)) / lit(hi - lo)
        // greatest/least clamp: v == lo (desc) / v == hi (asc) gives
        // frac exactly 1 -> bucket `buckets`, and float rounding could
        // brush -0-epsilon; both clamp into [0, buckets-1]
        df.withColumn("__b",
          greatest(lit(0), least(lit(buckets - 1), floor(frac * buckets)))
            .cast("int"))
      }
    val hist = keyed.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    val off = hist
      .withColumn("__off",
        coalesce(sum(col("__c")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    val ordering = (if (descending) v.desc else v.asc) +:
      tieBreak.map(col(_).asc)
    keyed.join(broadcast(off), Seq("__b"))
      .withColumn(rankName,
        (col("__off") + row_number().over(
          Window.partitionBy(col("__b")).orderBy(ordering: _*))).cast("long"))
      .drop("__b", "__off")
  }

  def quantiles(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(String, Long, Long)], buckets: Int = 1024,
      countCol: Option[String] = None): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, num, den) =>
      num >= 0 && den > 0 && num <= den }, s"invalid quantile spec: $qs")
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val g = col(groupCol)
    val v = col(valueCol)
    val base = df.select(g, v).filter(v.isNotNull)

    // (1) per-group range: one row per group, broadcast. The group
    // POPULATION no longer rides this table — it falls out of the
    // histogram window below for free, which drops the two extra
    // broadcast joins (targets' __n lookup and the countCol join) the
    // r16 form paid per quantile call (guide §2.4: fewer exchanges).
    val stats = base.groupBy(g).agg(
      min(v).as("__lo"), max(v).as("__hi"))

    // (2) order-preserving range bucket: floor((v-lo)/(hi-lo)*buckets)
    // clamped to [0, buckets-1]. Monotonic in v, so equal values share
    // a bucket and bucket boundaries respect the value order.
    val keyed = base.join(broadcast(stats), groupCol)
      .withColumn("__b",
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(lit(buckets - 1),
            floor((v - col("__lo")) / (col("__hi") - col("__lo")) * buckets))
            .cast("int")))
      .select(g, v, col("__b"))

    // (3) per-(group, bucket) histogram; ONE window pass (same
    // partition + order spec -> one exchange, one WindowExec) derives
    // BOTH the exclusive running offsets and the group population __n
    // (= Σ __c = the non-null count the old stats table carried)
    val hist = keyed.groupBy(g, col("__b")).agg(count(lit(1)).as("__c"))
    val wSpec = Window.partitionBy(g).orderBy(col("__b"))
    val off = hist
      .withColumn("__off",
        coalesce(sum(col("__c")).over(
          wSpec.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(
        wSpec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))

    // (4) locate each target rank's bucket arithmetically — __n rides
    // the histogram rows, so no join back to stats is needed
    val qArr = array(qs.map { case (name, num, den) =>
      struct(lit(name).as("name"),
        expr(s"greatest(1L, ($num * __n + $den - 1) DIV $den)").as("k"))
    }: _*)
    val targets = off
      .select(g, col("__b"), col("__off"), col("__c"), col("__n"),
        explode(qArr).as("__q"))
      .filter(col("__off") < col("__q.k") && col("__q.k") <= col("__off") + col("__c"))
      .select(g, col("__b"), col("__q.name").as("__name"),
        (col("__q.k") - col("__off")).as("__r"), col("__n"))

    // (5) rank ONLY the target buckets' rows; local rank + offset is
    // the global rank, and the window is (group, bucket, name)-keyed
    val picked = keyed.join(broadcast(targets), Seq(groupCol, "__b"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(g, col("__b"), col("__name")).orderBy(v)))
      .filter(col("__rn") === col("__r"))

    val aggs: Seq[Column] = qs.map { case (name, _, _) =>
      min(when(col("__name") === name, v)).as(name)
    } ++ countCol.map(c => max(col("__n")).as(c))
    picked.groupBy(g).agg(aggs.head, aggs.tail: _*)
  }
}
