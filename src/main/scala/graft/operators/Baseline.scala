package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import scala.reflect.runtime.universe.TypeTag

import graft.functions.{IpFunctions, Ip6Expressions}
import graft.functions.IpFunctions.Cidr
import graft.functions.Ip6Expressions.Cidr6

/** Traffic-baseline computation — the reference's whole purpose
  * (/root/reference/main.go:212-444) re-expressed as one declarative
  * Spark plan instead of a per-network query loop:
  *
  *   reference: for each CIDR -> one ClickHouse query (window filter +
  *              range predicate + 26 avg/max aggregates) -> driver-side
  *              govaluate threshold math -> hostgroup row
  *   graft:     one scan -> network assignment (broadcast range join
  *              against the tiny networks table) -> single hash
  *              aggregation over all networks at once -> threshold
  *              Columns -> hostgroup rows
  *
  * At 100 TB the reference's loop is N full scans; this is one scan and
  * one shuffle keyed by network (partial aggregation collapses rows
  * map-side, so shuffle volume is O(networks × metrics), not O(rows)).
  */
object Baseline {

  /** One threshold rule: reference config fields like
    * `incoming_packet_expression = "value * 2"` (main.go:41-46).
    * `divisor` covers the bits→mbps conversion (main.go:398).
    */
  final case class ThresholdRule(
      metric: String,
      expression: String,
      outName: String,
      divisor: Long = 1L)

  /** The engine-relevant slice of BaselineMagicianConfiguration
    * (main.go:20-50).
    */
  final case class BaselineConfig(
      hostCol: String,
      tsCol: String,
      windowSeconds: Long = 7L * 24 * 3600,
      aggregationFunction: String = "avg",
      metrics: Map[String, Column] = Map.empty,
      rules: Seq[ThresholdRule] = Nil)

  /** The window anchor: `df` with the newest timestamp attached to
    * every row as `__anchor` — the reference's `now()` (main.go:275)
    * made reproducible on fixed data by anchoring at max(ts) instead of
    * the wall clock. Every trailing window, history/current split and
    * hour index measures back from it.
    */
  private[graft] def anchored(df: DataFrame, tsCol: String): DataFrame =
    df.crossJoin(broadcast(df.agg(max(col(tsCol)).as("__anchor"))))

  /** `tsCol` no more than `seconds` before the [[anchored]] `__anchor`. */
  private[graft] def within(tsCol: String, seconds: Long): Column =
    col(tsCol) >= col("__anchor") - expr(s"INTERVAL $seconds SECONDS")

  /** Trailing time window relative to the newest row — the reference's
    * `metricDateTime >= now() - P` (main.go:275) on the [[anchored]]
    * max(ts).
    */
  def trailingWindow(df: DataFrame, tsCol: String, seconds: Long): DataFrame =
    anchored(df, tsCol).filter(within(tsCol, seconds)).drop("__anchor")

  private[graft] def aggFor(fn: String)(c: Column): Column = fn match {
    case "avg" =>
      // order-independent avg: exact decimal sum → scale-6 round →
      // one IEEE division. A raw double avg is partition-order
      // dependent, and the downstream floor() sits on an integer
      // boundary often enough to flap a reproducibility gate.
      round(sum(c.cast("decimal(28,10)")), 6).cast("double") / count(c)
    case "max" => max(c)
    case other => throw new IllegalArgumentException(
      s"aggregation_function must be avg or max (main.go:88-91), got $other")
  }

  /** ClickHouse `toInt64(agg(x))` analog (main.go:272): truncate toward
    * zero to a long. Metrics are non-negative so floor == trunc.
    */
  private[graft] def toInt64(c: Column): Column = floor(c).cast("long")

  /** The wide aggregate (main.go:240-272) over `grouped`: `n_rows`, then
    * every metric in name order as `toInt64(agg(metric))`. Shared by the
    * hostgroup pipelines, the per-prefix baselines and the streaming
    * variant.
    */
  private[graft] def metricAggregate(grouped: RelationalGroupedDataset,
      cfg: BaselineConfig): DataFrame =
    grouped.agg(count(lit(1)).as("n_rows"),
      cfg.metrics.toSeq.sortBy(_._1).map { case (name, c) =>
        toInt64(aggFor(cfg.aggregationFunction)(c)).as(name)
      }: _*)

  /** Hostgroup name of a network (main.go:342-344): '.' and '/' become
    * '_', and so does IPv6's ':' — `10.0.0.0/24` -> `10_0_0_0_24`,
    * `2001:db8::/32` -> `2001_db8___32`. Shared by the batch pipelines
    * and [[graft.streaming.StreamingHostgroups]].
    */
  private[graft] def hostgroupName(network: Column): Column =
    translate(network, ".:/", "___")

  /** A projection over `df` built one column at a time with
    * `Dataset.withColumn`'s semantics, then applied as ONE `select`.
    * Each `withColumn` call builds a new Dataset and re-analyses the
    * whole plan beneath it: the 26-rule hostgroup tail was 53 such
    * calls, about 0.3 s of driver time per query on a 4-core box
    * (perfbench `hostgroups`, `operators.build_s`). Semantics kept: a
    * name already present (per `spark.sql.caseSensitive`) is replaced
    * in place, a later column of the same name replaces an earlier one,
    * and [[apply]] returns a name's current column, so an expression
    * over a replaced name reads the replacement.
    */
  private[graft] final class Projection private (
      df: DataFrame,
      same: (String, String) => Boolean,
      cols: Vector[Projection.Out]) {

    def apply(name: String): Column =
      cols.find(o => same(o.name, name)).fold(col(name))(_.col)

    def withColumn(name: String, c: Column): Projection = {
      val out = Projection.Out(name, c, derived = true)
      new Projection(df, same,
        if (cols.exists(o => same(o.name, name)))
          cols.map(o => if (same(o.name, name)) out else o)
        else cols :+ out)
    }

    def toDF: DataFrame =
      df.select(cols.map(o => if (o.derived) o.col.as(o.name) else o.col): _*)
  }

  private[graft] object Projection {
    private final case class Out(name: String, col: Column, derived: Boolean)

    def apply(df: DataFrame): Projection = {
      val same: (String, String) => Boolean =
        if (df.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean) _ == _
        else _.equalsIgnoreCase(_)
      new Projection(df, same, df.queryExecution.analyzed.output
        .map(a => Out(a.name, Bridge.column(a), derived = false)).toVector)
    }
  }

  /** Threshold columns over aggregated metrics, `outName` then
    * `outName_active` per rule in rule order; <= 0 deactivates the
    * threshold (main.go:372-377) -> null value + false flag. Shared by
    * the batch hostgroup pipelines and the streaming variant, which each
    * project the result once ([[Projection]]).
    */
  private[graft] def thresholdColumns(p: Projection, rules: Seq[ThresholdRule]): Projection =
    rules.foldLeft(p) { (acc, rule) =>
      val raw = ThresholdExpr.withValue(rule.expression, acc(rule.metric))
      val scaled = floor(raw / lit(rule.divisor)).cast("long")
      acc
        .withColumn(rule.outName, when(scaled > 0, scaled))
        .withColumn(s"${rule.outName}_active", scaled > 0)
    }

  /** Aggregate metrics per fixed-prefix network (e.g. every /24 present
    * in the data), no explicit network list needed: assignment is a mask
    * on the numeric IP — zero joins, fully codegen'd.
    */
  def aggregateByPrefix(df: DataFrame, cfg: BaselineConfig, prefix: Int): DataFrame =
    byPrefix(df, cfg, prefix)

  /** [[aggregateByPrefix]] grouped by `keys` after `network`. */
  private def byPrefix(df: DataFrame, cfg: BaselineConfig, prefix: Int,
      keys: Column*): DataFrame =
    metricAggregate(trailingWindow(df, cfg.tsCol, cfg.windowSeconds)
      .withColumn("network", IpFunctions.prefixNetwork(col(cfg.hostCol), prefix))
      .groupBy(col("network") +: keys: _*), cfg)

  /** End-to-end hostgroup generation (main.go:212-444): window filter →
    * network assignment → wide aggregation → threshold expressions →
    * mangled names. Networks with zero in-window rows simply produce no
    * group (the reference's `hosts_with_traffic == 0` skip, main.go:331).
    * Everything after the aggregate is one projection: the aggregate's
    * columns, each rule's `outName` and `outName_active` in rule order,
    * then `hostgroup` — a `withColumn` per column would re-analyse the
    * whole plan 53 times at 26 rules ([[Projection]]).
    */
  def hostgroups(
      df: DataFrame,
      cfg: BaselineConfig,
      networks: Seq[Cidr]): DataFrame =
    hostgroupsOver(df, cfg, IpFunctions.ip4ToNum(col(cfg.hostCol)),
      networks.map(c => (c.start, c.end, c.networkString)))

  /** The body of [[hostgroups]] and [[hostgroups6]]: `addr` is the
    * parsed host address and `networks` holds each network's inclusive
    * (start, end) bounds in the same encoding, and its name.
    *
    * Network assignment = broadcast range join against the (tiny,
    * config-sized) networks table. Two reasons over a when-chain:
    * (1) the join boundary materializes the parsed address as ONE value
    * per row — inlining the parse into a 9-CIDR filter/key chain
    * re-evaluated the dotted-quad split ~27x per row (a measured 9x
    * slowdown at sf0.1); (2) it is reference-faithful: main.go queries
    * every network independently, so an IP inside two CIDRs counts in
    * both (when-chain first-match would not).
    */
  private def hostgroupsOver[A: TypeTag](df: DataFrame, cfg: BaselineConfig,
      addr: Column, networks: Seq[(A, A, String)]): DataFrame = {
    val netDf = df.sparkSession.createDataFrame(networks)
      .toDF("__start", "__end", "network")
    val base = metricAggregate(trailingWindow(df, cfg.tsCol, cfg.windowSeconds)
      .withColumn("__addr", addr)
      .join(broadcast(netDf),
        col("__addr") >= col("__start") && col("__addr") <= col("__end"))
      .groupBy(col("network")), cfg)
    val tail = thresholdColumns(Projection(base), cfg.rules)
    tail.withColumn("hostgroup", hostgroupName(tail("network"))).toDF
  }

  /** R19 (beyond the reference): exponentially-decayed event-rate
    * baseline per fixed-prefix network — the recency-weighted smoothing
    * a detector wants when last night's flood should stop dominating
    * the threshold by lunch. Half-life = one hour bucket: the state
    * halves each hour and adds that hour's event count,
    * `s_h = s_{h-1} div 2 + n_h` folded oldest -> newest over a dense
    * hour spine (missing hours decay the state, contributing 0).
    *
    * ALL-INTEGER recurrence: counts are longs and the decay is integral
    * halving, so the fold has no float accumulation order to disagree
    * across engines — the DuckDB oracle runs the identical fold as
    * `list_reduce(list_prepend(0, list(n ORDER BY h)), (a,b) -> a//2+b)`.
    *
    * Scale: one count aggregation keyed (network, hour) + a per-network
    * fold whose state is `windowHours` longs (168 for a week) — bounded
    * by construction, the same per-group-bounded contract as the
    * seasonal profile. The spine join broadcasts (networks x hours is
    * config-sized next to the event corpus).
    */
  def ewmaRate(df: DataFrame, hostCol: String, tsCol: String,
      windowHours: Int, prefix: Int): DataFrame = {
    val (counted, hours) = hourlyCounts(df, hostCol, tsCol, windowHours, prefix)
    val spine = counted.select(col("network")).distinct()
      .crossJoin(broadcast(hours))
    spine.join(counted, Seq("network", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .groupBy(col("network"))
      .agg(
        expr("aggregate(sort_array(collect_list(struct(h, n))), 0L," +
          " (s, x) -> s div 2 + x.n)").as("ewma_rate"),
        sum(col("n")).as("n_events"))
  }

  /** The prelude [[ewmaRate]] and [[holtForecast]] share: event counts
    * `n` per (network, h) over the [[anchored]] `windowHours`, where
    * `h` counts hours from the window's oldest (0) to the anchor's
    * (`windowHours - 1`), and the dense hour spine `h` = 0 until
    * `windowHours` the folds zero-fill against.
    */
  private def hourlyCounts(df: DataFrame, hostCol: String, tsCol: String,
      windowHours: Int, prefix: Int): (DataFrame, DataFrame) = {
    require(windowHours > 0, s"windowHours=$windowHours")
    val hourUs = 3600L * 1000000L
    val counted = anchored(df, tsCol)
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__ago", expr(s"(unix_micros(__anchor) - __us) div $hourUs"))
      .filter(col("__ago") < windowHours)
      .withColumn("network", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .withColumn("h", (lit(windowHours - 1) - col("__ago")).cast("int"))
      .groupBy(col("network"), col("h"))
      .agg(count(lit(1)).as("n"))
    val hours = df.sparkSession.range(1)
      .select(explode(sequence(lit(0), lit(windowHours - 1))).as("__h"))
      .select(col("__h").cast("int").as("h"))
    (counted, hours)
  }

  /** Absolute-hour variant of [[ewmaRate]] — the streaming twin's
    * batch parity kernel (`graft.streaming.StreamingEwma`). Hours are
    * absolute epoch-hour indexes: no anchor and NO window, because the
    * decay IS the forgetting — a week-old hour has halved 168 times
    * and contributes nothing. Empty-hour gaps decay the state in one
    * `shiftright` (iterated integer halving = div 2^gap for
    * non-negative state; shift capped at 63). Same all-integer
    * recurrence as [[ewmaRate]]: no float to diverge between the
    * batch fold, the streaming state machine, and a recompute.
    */
  def ewmaRateAbsolute(df: DataFrame, hostCol: String, tsCol: String,
      prefix: Int): DataFrame = {
    val hourUs = 3600L * 1000000L
    df.withColumn("network", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("h", expr(s"__us div $hourUs"))
      .groupBy(col("network"), col("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("network"))
      .agg(
        max(col("h")).as("last_hour"),
        // The accumulator carries an explicit init flag rather than a
        // ph=-1 sentinel: absolute epoch hours are negative before
        // 1970, and a sentinel would reset (not decay) after them.
        expr("aggregate(sort_array(collect_list(struct(h, n))), " +
          "named_struct('init', false, 'ph', CAST(0 AS BIGINT), 's', CAST(0 AS BIGINT)), " +
          "(a, x) -> named_struct('init', true, 'ph', x.h, 's', " +
          "IF(NOT a.init, x.n, " +
          "shiftright(a.s, CAST(least(63, x.h - a.ph) AS INT)) + x.n)), " +
          "a -> a.s)").as("ewma_rate"))
  }

  /** R28 (beyond the reference): Holt double-exponential baseline —
    * LEVEL + TREND smoothing over the hourly spine, where R19's EWMA
    * smooths level only: a steadily ramping flood keeps an EWMA
    * permanently half a step behind, while Holt's trend term closes
    * the lag and gives a usable next-hour forecast
    * (`forecast = level + horizon·trend` — the threshold a detector
    * should compare the NEXT bucket against).
    *
    * α = β = 1/2 (the halving family, like R19) with EXPLICIT floor
    * division — the trend term goes negative on decay, where Spark's
    * integer `div` truncates toward zero but SQL `//` floors; both
    * sides therefore compute `floor(x / 2.0)` (exact double op for
    * |x| < 2^52, then an exact cast), so the recurrence
    *
    *   s_h = floor((x_h + s + b) / 2),  b_h = floor((s_h − s + b) / 2)
    *
    * is bit-identical across engines including negative trends. Same
    * scale shape as [[ewmaRate]]: one keyed count aggregation + a
    * per-network fold over the bounded windowHours spine. The fold
    * INITIALIZES at each network's first active hour inside the
    * window (level = that hour's count, trend = 0) and zero-fills
    * only interior gaps — which is also what makes the streaming twin
    * ([[graft.streaming.StreamingHolt]]), which cannot know the
    * window anchor, replay-exact.
    *
    * Resolution contract: the β=1/2 floor eats per-hour slopes under
    * ~±2 events/hour (floor(1/2) = 0) — the trend term reads sustained
    * ramps, not unit drifts; scale counts up (sub-hour buckets, packet
    * counts) when finer slopes matter.
    */
  def holtForecast(df: DataFrame, hostCol: String, tsCol: String,
      windowHours: Int, prefix: Int, horizonHours: Int = 1): DataFrame = {
    require(horizonHours >= 0, s"horizonHours=$horizonHours")
    val (counted, hours) = hourlyCounts(df, hostCol, tsCol, windowHours, prefix)
    // the spine zero-fills GAPS, not the left edge: it starts at each
    // network's first ACTIVE hour (init = that hour's count), so a
    // network that appears mid-window folds the same series the
    // streaming twin (which cannot know the window anchor) folds —
    // left-padded zeros would make init s=0 and silently diverge the
    // two (the r10 review finding)
    val spine = counted.groupBy(col("network")).agg(min(col("h")).as("__h0"))
      .crossJoin(broadcast(hours))
      .filter(col("h") >= col("__h0"))
      .select("network", "h")
    val sNext = "CAST(floor((x.n + a.s + a.b) / 2.0) AS BIGINT)"
    spine.join(counted, Seq("network", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .groupBy(col("network"))
      .agg(
        expr("aggregate(sort_array(collect_list(struct(h, n))), " +
          "named_struct('i', false, 's', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT)), " +
          "(a, x) -> IF(NOT a.i, " +
          "named_struct('i', true, 's', x.n, 'b', CAST(0 AS BIGINT)), " +
          s"named_struct('i', true, 's', $sNext, " +
          s"'b', CAST(floor(($sNext - a.s + a.b) / 2.0) AS BIGINT))))")
          .as("__st"),
        sum(col("n")).as("n_events"))
      .select(col("network"), col("__st.s").as("level"),
        col("__st.b").as("trend"),
        (col("__st.s") + lit(horizonHours.toLong) * col("__st.b"))
          .as("forecast"),
        col("n_events"))
  }

  /** R15 (beyond the reference): seasonality-aware baseline — metrics
    * aggregated per (network, season bucket), where the bucket is any
    * derivation of the timestamp (hour-of-day, day-of-week). A flat
    * 7-day avg flags every rush hour as an anomaly and sleeps through
    * a 3 a.m. flood; the seasonal profile compares traffic to the same
    * hour's history. Plan shape is unchanged from the flat baseline:
    * one scan, one hash aggregation — the key is just wider by one
    * small integer, so 100 TB scaling is identical.
    */
  def seasonalByPrefix(
      df: DataFrame,
      cfg: BaselineConfig,
      prefix: Int,
      seasonOf: Column => Column,
      seasonName: String = "season"): DataFrame =
    byPrefix(df, cfg, prefix, seasonOf(col(cfg.tsCol)).cast("long").as(seasonName))

  /** R14 (beyond the reference's avg/max): exact percentile baseline
    * per fixed-prefix network — the p95-style threshold detectors
    * prefer over avg because a single traffic spike cannot drag it.
    * The percentile `num/den` selects the first value whose rank
    * covers it, via INTEGER arithmetic (rank*den >= num*n): both
    * engines pick the identical data element — no interpolation, no
    * float boundary to disagree on. Duplicate values are safe (the
    * k-th smallest value is unique even when row_number ties are not).
    *
    * Scale: one rank window per network (sort shuffle keyed by
    * network). A network holding a disproportionate share of the
    * corpus sorts in a single task — for that regime use the quantile
    * sketch (AnalyticsQueries.qSketchQuantile, constant memory per
    * group) and reserve this operator for exact reporting over
    * bounded groups, or pass `bucketKernel = true` (see [[rankSelect]]).
    */
  def percentileByPrefix(
      df: DataFrame,
      hostCol: String,
      valueCol: String,
      tsCol: String,
      windowSeconds: Long,
      prefix: Int,
      num: Long,
      den: Long,
      bucketKernel: Boolean = false): DataFrame = {
    require(num > 0 && den >= num, s"invalid percentile $num/$den")
    val assigned = trailingWindow(df, tsCol, windowSeconds)
      .select(IpFunctions.prefixNetwork(col(hostCol), prefix).as("network"),
        col(valueCol).as("__val"))
    rankSelect(assigned, "network", "__val", num, den, bucketKernel)
      .select(col("network"), col("n").as("n_events"),
        toInt64(col("sel")).as("p_value"))
  }

  /** Exact `num/den`-percentile of `valCol` per `keyCol` via integer
    * rank selection (see [[percentileByPrefix]]): returns one row per
    * key with the selected element as `sel` plus the group size `n`.
    * Both kernels select the IDENTICAL element (the same integer rank
    * arithmetic), so the oracles are unchanged; `bucketKernel` only
    * chooses the physical plan:
    *
    *   - `false` (window): one per-group sort window. MEASURED faster
    *     when the group key already bounds the population (sf0.1, /24
    *     networks: p95 1.1 s vs 1.6 s, MAD 1.3 s vs 3.7 s — the bucket
    *     kernel's fixed stage count dominates small groups).
    *   - `true` (bucket): [[RankSelect.quantiles]] — histogram +
    *     offsets, no per-group sort; each sort is ~n/1024 of a group.
    *     The hot-group path for deployments whose network groups go
    *     large enough that a one-task group sort straggles. MEASURED
    *     crossover (SURVEY §15, local[32]): at a 17M-row hot /24 the
    *     bucket kernel wins MAD (14.4 s vs 18.0 s — two selections pay
    *     the one-task sort twice) with p95 at parity; at 1.7M rows the
    *     window kernel still wins locally.
    *
    * Contract (both kernels): the value population must be non-null —
    * callers pass metric columns, which are.
    */
  private[graft] def rankSelect(df: DataFrame, keyCol: String,
      valCol: String, num: Long, den: Long,
      bucketKernel: Boolean = false): DataFrame =
    if (bucketKernel)
      RankSelect.quantiles(df, keyCol, valCol,
          Seq(("sel", num, den)), countCol = Some("n"))
        .select(col(keyCol), col("n"), col("sel"))
    else {
      val w = Window.partitionBy(col(keyCol))
      df.select(col(keyCol), col(valCol).as("__v"))
        .withColumn("__rk", row_number().over(w.orderBy(col("__v"))))
        .withColumn("__n", count(lit(1)).over(w))
        .filter(col("__rk") * den >= lit(num) * col("__n"))
        .groupBy(col(keyCol))
        .agg(max(col("__n")).as("n"), min(col("__v")).as("sel"))
    }

  /** R16 (beyond the reference): robust anomaly scoring — flag
    * networks whose CURRENT traffic deviates from the historical
    * median by more than `kNum/kDen` times the median absolute
    * deviation (MAD). Median/MAD resist the spikes that drag an
    * avg-based threshold into blindness; every selection is an exact
    * data element (integer rank arithmetic) and the deviation test
    * multiplies both sides instead of dividing, so no float boundary
    * can disagree across engines.
    *
    * History = [max_ts - windowSeconds, max_ts - currentSeconds);
    * current = [max_ts - currentSeconds, max_ts], both anchored at
    * max(ts) for reproducibility on fixed data. Networks without rows
    * in both windows drop out (no history -> nothing to compare).
    *
    * Scale: two rank windows keyed by network + one broadcast-sized
    * join — the same shuffle family as the percentile baseline;
    * `bucketKernel` picks both selections' plan (see [[rankSelect]]).
    */
  def madAnomaly(
      df: DataFrame,
      hostCol: String,
      valueCol: String,
      tsCol: String,
      windowSeconds: Long,
      currentSeconds: Long,
      prefix: Int,
      kNum: Long,
      kDen: Long,
      bucketKernel: Boolean = false): DataFrame = {
    val split = windowSplit(df, hostCol, tsCol, windowSeconds,
      currentSeconds, prefix)
    // the history projection is the operator's fan-out point: the
    // median selection, the deviation build, and the MAD selection all
    // consume it (3 executions under the window kernel, ~7 under the
    // bucket kernel, each re-running the scan+parse+window-split
    // upstream). The median table is the second fan-out: the deviation
    // input embeds it, so the MAD selection's multiple scans re-ran the
    // whole median pipeline. Materialize both through the session's
    // [[Materializer]] (med is one row per network) — measured at
    // sf0.1 (n=3 medians): bucket kernel 8.5 s -> 2.4-3.9 s across
    // runs on a contended box; window kernel improves ~2x as well.
    val mat = Materializer.of(df.sparkSession)
    val hist = mat(split.filter(!col("__is_current"))
      .select(col("network"), col(valueCol).as("v")))
    val cur = split.filter(col("__is_current"))
      .groupBy(col("network"))
      .agg(count(lit(1)).as("n_current"),
        aggFor("avg")(col(valueCol)).as("current_avg"))

    val med = mat(rankSelect(hist, "network", "v", 1, 2, bucketKernel)
      .select(col("network"), col("n").as("n_hist"), col("sel").as("med")))
    val mad = rankSelect(
        hist.join(med.select(col("network"), col("med")), "network")
          .select(col("network"), abs(col("v") - col("med")).as("dev")),
        "network", "dev", 1, 2, bucketKernel)
      .select(col("network"), col("sel").as("mad"))

    // ONE rounded expression feeds both the output column and the flag
    // (a col("current_avg") reference here would risk binding to the
    // rounded select alias — the lateral-column-alias hazard)
    val curAvg = round(col("current_avg"), 6)
    med.join(mad, "network").join(cur, "network")
      .select(col("network"), col("n_hist"), col("n_current"),
        col("med"), col("mad"),
        curAvg.as("current_avg"),
        (abs(curAvg - col("med")) * kDen > lit(kNum) * col("mad"))
          .as("is_anomaly"))
  }

  /** The window split [[madAnomaly]] and [[zscoreAnomaly]] share: rows
    * within `windowSeconds` of the [[anchored]] max(ts), keyed by their
    * /prefix `network`, with `__is_current` marking the newest
    * `currentSeconds`. ONE max(ts) scan serves both bounds (calling
    * trailingWindow and then computing max(ts) again would scan the
    * corpus twice for the same scalar).
    */
  private def windowSplit(df: DataFrame, hostCol: String, tsCol: String,
      windowSeconds: Long, currentSeconds: Long, prefix: Int): DataFrame = {
    require(currentSeconds > 0 && currentSeconds < windowSeconds,
      s"invalid windows: $windowSeconds/$currentSeconds")
    anchored(df, tsCol)
      .filter(within(tsCol, windowSeconds))
      .withColumn("network", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .withColumn("__is_current", within(tsCol, currentSeconds))
  }

  /** R23 (beyond the reference): parametric z-score anomaly — flag
    * networks whose current-window average deviates from the
    * historical MEAN by more than `kNum/kDen` standard deviations.
    * The parametric complement of [[madAnomaly]]: no rank windows at
    * all — history collapses to three map-side-combinable moments
    * (n, Σx, Σx²) — so it is the cheaper scorer for roughly-Gaussian
    * metrics; keep MAD where spikes poison mean/σ. Both windows are
    * computed by ONE conditional aggregation over one scan (the R8
    * wide-agg pattern): `sum(when(is_current...))` splits the moments
    * per branch, so the physical plan is scan → partial agg → one
    * Exchange → final agg, with no self-join anywhere.
    *
    * Exactness device (no float on the deciding path): values enter
    * as MICRO-units (round(v·1e6) as long — the T13 micro
    * discipline), Σx stays long, squares sum exactly in decimal(38,0)
    * (the oracle mirrors in HUGEINT), and the k-sigma test
    * cross-multiplies everything:
    *
    *   (Σc·n − Σx·m)² · kDen² > kNum² · m² · (n·Σx² − (Σx)²)
    *
    * — integer arithmetic end to end, no division, no sqrt. The
    * display mean/std/current columns are round-6 doubles computed by
    * one identical op sequence per engine. Overflow contract: every
    * sum accumulates in decimal(38,0) (the oracle mirrors in
    * HUGEINT), so no long wrap exists anywhere; past the decimal(38,0)
    * product bound (~10^9 rows/group at micro scale) Spark's non-ANSI
    * decimal arithmetic yields NULL — which the explicit guard below
    * converts to a RAISE, matching DuckDB's loud HUGEINT overflow.
    * Neither engine can return a silently wrong flag.
    */
  def zscoreAnomaly(
      df: DataFrame,
      hostCol: String,
      valueCol: String,
      tsCol: String,
      windowSeconds: Long,
      currentSeconds: Long,
      prefix: Int,
      kNum: Long,
      kDen: Long): DataFrame = {
    val split = windowSplit(df, hostCol, tsCol, windowSeconds,
        currentSeconds, prefix)
      .withColumn("__v6", round(col(valueCol) * 1e6).cast("long"))
    val d38 = "decimal(38,0)"
    // sums accumulate in decimal(38,0), NOT long: Spark's non-ANSI
    // sum(long) wraps silently at 2^63, decimal saturates to NULL —
    // detectable, and converted to a raise below.
    // ONE aggregation for BOTH windows (the R8 wide-agg pattern):
    // history and current moments are conditional sums over the same
    // scan, so the whole detector costs one fact-table pass + one
    // shuffle instead of two aggregations joined back together — at
    // 100 TB the second scan was the entire bill. The inner-join
    // semantics of the two-branch form (network must appear in BOTH
    // windows) survive as a filter on the conditional counts.
    val isHist = !col("__is_current")
    val isCur = col("__is_current")
    val agg = split
      .groupBy(col("network"))
      .agg(
        count(when(isHist, lit(1))).as("n_hist"),
        sum(when(isHist, col("__v6").cast(d38))).as("__sx"),
        sum(when(isHist,
          col("__v6").cast("decimal(19,0)") * col("__v6").cast("decimal(19,0)")))
          .as("__sxx"),
        count(when(isCur, lit(1))).as("n_current"),
        sum(when(isCur, col("__v6").cast(d38))).as("__sc"))
      .filter(col("n_hist") > 0 && col("n_current") > 0)
    val n = col("n_hist")
    val m = col("n_current")
    val varNum = n.cast(d38) * col("__sxx") - col("__sx") * col("__sx")
    val devNum = col("__sc") * n - col("__sx") * m
    // the deciding inequality, with non-ANSI decimal overflow (NULL)
    // surfaced as a raise — never a silent NULL/wrong flag
    val decide = (devNum * devNum * lit(kDen * kDen) >
      lit(kNum * kNum) * m.cast(d38) * m * varNum).cast("int")
    agg
      .select(col("network"), col("n_hist"), col("n_current"),
        round(col("__sx").cast("double") / n / 1e6, 6).as("mean_value"),
        round(sqrt(varNum.cast("double")) / n / 1e6, 6).as("std_value"),
        round(col("__sc").cast("double") / m / 1e6, 6).as("current_avg"),
        when(decide.isNotNull, decide)
          .otherwise(raise_error(lit("zscoreAnomaly: decimal(38,0) " +
            "overflow on the deciding path — group exceeds the " +
            "documented exactness bounds")))
          .as("is_anomaly"))
  }

  /** R18 (beyond the reference): incremental baseline maintenance.
    * The reference recomputes its whole profile window per run
    * (main.go:275 re-queries the full trailing week); at 100 TB that
    * is a full-history scan per day. This state table is the mergeable
    * alternative: (count, exact decimal sum, max) per network — each
    * ingest slice profiles once, and merging slice states is
    * BIT-IDENTICAL to a full recompute (decimal sums are exact and
    * associative; count/max trivially so), verified in
    * `BaselineSpec` and against the DuckDB full recompute by
    * `q_baseline_incremental`.
    *
    * Windowing is the caller's job (one anchor for all slices —
    * anchoring each slice at its own max(ts) would break equality);
    * the natural unit is the ingest partition (day/hour), retiring a
    * slice = subtracting nothing: rebuild the merged profile from the
    * still-live slice states.
    */
  def profileState(df: DataFrame, hostCol: String, valueCol: String,
      prefix: Int): DataFrame =
    df.withColumn("network", IpFunctions.prefixNetwork(col(hostCol), prefix))
      .groupBy(col("network"))
      .agg(count(col(valueCol)).as("n_rows"),
        sum(col(valueCol).cast("decimal(28,10)")).as("sum_v"),
        max(col(valueCol)).as("max_v"))

  /** Merge profile states (all built by [[profileState]] with the same
    * prefix): counts and sums add, maxes max. Result rows are
    * bit-identical to profiling the concatenated inputs.
    */
  def mergeProfiles(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "no states to merge")
    states.reduce(_ unionByName _)
      .groupBy(col("network"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_v")).as("sum_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Render a (merged) profile state as the avg/max baseline report —
    * same arithmetic as `aggFor("avg")`/`toInt64`, so the report of a
    * merged state equals the one-shot baseline of the same rows.
    */
  def profileReport(state: DataFrame): DataFrame =
    state.select(col("network"), col("n_rows").as("n_events"),
      toInt64(round(col("sum_v"), 6).cast("double") / col("n_rows"))
        .as("avg_value"),
      toInt64(col("max_v")).as("max_value"))

  /** IPv6 variant — beyond the reference, which skips IPv6 networks
    * (main.go:223). Identical plan shape: parse once at the join
    * boundary, broadcast range join on inclusive 16-byte bounds
    * (binary comparison = unsigned 128-bit order), one aggregation.
    * Name mangling extends the reference's scheme with ':' -> '_'.
    */
  def hostgroups6(
      df: DataFrame,
      cfg: BaselineConfig,
      networks: Seq[Cidr6]): DataFrame =
    hostgroupsOver(df, cfg, Ip6Expressions.ip6ToBytes(col(cfg.hostCol)),
      networks.map(c => (c.start, c.end, c.networkString)))
}
