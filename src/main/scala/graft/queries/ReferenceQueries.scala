package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions
import graft.functions.IpFunctions.Cidr
import graft.operators.Baseline
import graft.operators.Baseline.{BaselineConfig, ThresholdRule}
import Shared._

/** SURVEY.md §2.1 — the reference's own query surface
  * (/root/reference/main.go), re-expressed Spark-first.
  */
object ReferenceQueries {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Window length the reference defaults to (main.go:62). */
  private val week = 7L * 24 * 3600

  private def baselineCfg(agg: String) = BaselineConfig(
    hostCol = "host", tsCol = "ts", windowSeconds = week,
    aggregationFunction = agg,
    // stand-ins for the reference's packets/bits/flows counters
    // (main.go:240-269): value as packets, value scaled up as bits,
    // value scaled down as flows.
    metrics = Map(
      "packets_incoming" -> col("value"),
      "bits_incoming" -> (col("value") * 1048576L),
      "flows_incoming" -> (col("value") / 10)),
    rules = Seq(
      // the README's example expressions, verbatim
      ThresholdRule("packets_incoming", "value * 2", "threshold_pps"),
      ThresholdRule("bits_incoming", "value * 3", "threshold_mbps", divisor = 1048576L),
      ThresholdRule("flows_incoming", "value + 200", "threshold_flows")))

  // R1: IPv4StringToNum / IPv4NumToString roundtrip (main.go:238).
  def qIpRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val hosts = hostEvents(s, dir).select(col("host")).distinct()
    val ipNum = IpFunctions.ip4ToNum(col("host"))
    hosts
      .withColumn("ip_num", ipNum)
      .withColumn("back", IpFunctions.numToIp4(col("ip_num")))
      .withColumn("net24", IpFunctions.numToIp4(IpFunctions.networkOf(col("ip_num"), 24)))
      .withColumn("net16", IpFunctions.numToIp4(IpFunctions.networkOf(col("ip_num"), 16)))
      .orderBy("ip_num")
  }

  // R2: CIDR range membership as a sargable numeric predicate (main.go:238).
  def qCidrFilter(s: SparkSession, dir: String): DataFrame = {
    val e = hostEvents(s, dir)
      .withColumn("ip_num", IpFunctions.ip4ToNum(col("host")))
    e.filter(IpFunctions.cidrContains("10.0.0.64/26", col("ip_num")))
      .select(col("event_id"), col("host"), col("ip_num"))
      .orderBy("event_id")
  }

  // R3+R4: trailing-window avg baseline per /24 network.
  def qBaselineAvg(s: SparkSession, dir: String): DataFrame =
    baselinePerType(s, dir, "avg")

  // R5: same with max.
  def qBaselineMax(s: SparkSession, dir: String): DataFrame =
    baselinePerType(s, dir, "max")

  private def baselinePerType(s: SparkSession, dir: String, agg: String): DataFrame = {
    val perType = eventTypes.map { ty =>
      s"${agg}_$ty" -> when(col("event_type") === ty, col("value"))
    }.toMap
    val cfg = BaselineConfig(
      hostCol = "host", tsCol = "ts", windowSeconds = week,
      aggregationFunction = agg,
      metrics = perType + (s"${agg}_value" -> col("value")))
    Baseline.aggregateByPrefix(hostEvents(s, dir), cfg, 24)
      .withColumnRenamed("n_rows", "n_events")
      .orderBy("network")
  }

  // R6+R7: full hostgroup pipeline with threshold expressions (avg).
  def qThresholds(s: SparkSession, dir: String): DataFrame =
    Baseline.hostgroups(hostEvents(s, dir), baselineCfg("avg"),
        netList.map(Cidr.parse))
      .orderBy("network")

  // R7 variant: max aggregation (aggregation_function config, main.go:88).
  def qHostgroups(s: SparkSession, dir: String): DataFrame =
    Baseline.hostgroups(hostEvents(s, dir), baselineCfg("max"),
        netList.map(Cidr.parse))
      .withColumn("enable_ban", lit(true))
      .orderBy("network")

  // R8: the 26-counter wide aggregation shape (main.go:240-269) — one
  // shuffle computes count/avg/max/sum for every event type at once.
  def qMetricsWide(s: SparkSession, dir: String): DataFrame = {
    val e = hostEvents(s, dir)
      .withColumn("network", IpFunctions.prefixNetwork(col("host"), 24))
    val windowed = Baseline.trailingWindow(e, "ts", week)
    val aggs = eventTypes.flatMap { ty =>
      val v = when(col("event_type") === ty, col("value"))
      Seq(
        count(v).as(s"n_$ty"),
        avg4(v).as(s"avg_$ty"),
        max(v).as(s"max_$ty"),
        sum2(v).as(s"sum_$ty"))
    }
    windowed.groupBy(col("network"))
      .agg(count(lit(1)).as("n_total"), aggs: _*)
      .orderBy("network")
  }

  /** Stand-in for the deployment's pre-existing hostgroups (the
    * reference's GetAllHostgroups); shared with the oracle SQL.
    */
  val currentHostgroups: Seq[String] =
    Seq("global", "10_0_0_0_26", "stale_group")

  // R7 lifecycle: the reference's reconciliation sweep (main.go:153-208)
  // — remove all current groups but `global`, create every generated one.
  def qHostgroupLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val generated = Baseline.hostgroups(hostEvents(s, dir), baselineCfg("max"),
        netList.map(Cidr.parse))
      .select(col("hostgroup").as("name"))
    val current = currentHostgroups.toDF("name")
    graft.operators.BanSettings
      .lifecyclePlan(generated, current, removeExisting = true)
      .orderBy("step", "action", "name")
  }

  // R14: exact p95 baseline per /24 — rank selection by integer
  // arithmetic, so both engines pick the identical element.
  def qBaselineP95(s: SparkSession, dir: String): DataFrame =
    baselineP95(s, dir, bucketKernel = false)

  private def baselineP95(s: SparkSession, dir: String,
      bucketKernel: Boolean): DataFrame =
    Baseline.percentileByPrefix(hostEvents(s, dir), "host", "value", "ts",
        week, 24, num = 19, den = 20, bucketKernel = bucketKernel)
      .withColumnRenamed("p_value", "p95_value")
      .orderBy("network")

  // R15: hour-of-day seasonal baseline per /24 — the diurnal profile a
  // flat weekly avg cannot express.
  def qBaselineSeasonal(s: SparkSession, dir: String): DataFrame = {
    val cfg = BaselineConfig(
      hostCol = "host", tsCol = "ts", windowSeconds = week,
      aggregationFunction = "avg",
      metrics = Map("avg_value" -> col("value")))
    Baseline.seasonalByPrefix(hostEvents(s, dir), cfg, 24,
        ts => hour(ts), seasonName = "hour_of_day")
      .withColumnRenamed("n_rows", "n_events")
      .orderBy("network", "hour_of_day")
  }

  // R18: incremental baseline maintenance — profile two ingest slices
  // independently (split by user-id parity; any partition works),
  // merge the mergeable states, render. The oracle recomputes the
  // baseline in ONE pass over everything: passing the gate proves
  // merge(sliceA, sliceB) is bit-identical to the full recompute.
  def qBaselineIncremental(s: SparkSession, dir: String): DataFrame = {
    val windowed = Baseline.trailingWindow(hostEvents(s, dir), "ts", week)
    val parity = pmod(coalesce(col("user_id"), lit(0L)), lit(2L))
    val slices = Seq(
      Baseline.profileState(windowed.filter(parity === 0), "host", "value", 24),
      Baseline.profileState(windowed.filter(parity === 1), "host", "value", 24))
    Baseline.profileReport(Baseline.mergeProfiles(slices)).orderBy("network")
  }

  // R13: IPv6 codec roundtrip, ORACLE-GATED without an oracle-side
  // inet parser — the multimodal device applied to addresses: the v6
  // strings are synthesized from integer groups, so DuckDB computes
  // the EXPECTED parse bytes (hex concat) and the RFC 5952 canonical
  // re-format (closed-form CASE arms: the fixed 2001:db8 prefix makes
  // the longest-zero-run compression enumerable) purely arithmetically
  // while Spark runs the real parse/format expressions.
  def qIp6Roundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Ip6Expressions
    t(s, dir, "events").select(col("user_id")).distinct()
      .withColumn("g7", shiftright(col("user_id"), 16).bitwiseAND(lit(65535L)))
      .withColumn("g8", col("user_id").bitwiseAND(lit(65535L)))
      .withColumn("ip6", concat(lit("2001:0db8:0000:0000:0000:0000:"),
        lpad(lower(hex(col("g7"))), 4, "0"), lit(":"),
        lpad(lower(hex(col("g8"))), 4, "0")))
      .withColumn("b", Ip6Expressions.ip6ToBytes(col("ip6")))
      .select(col("user_id"), col("ip6"),
        lower(hex(col("b"))).as("bytes_hex"),
        Ip6Expressions.bytesToIp6(col("b")).as("canonical"))
      .orderBy("user_id")
  }

  // R13: IPv6 CIDR MEMBERSHIP, oracle-gated — the flagship
  // beyond-reference claim (/root/reference/main.go:223 skips IPv6
  // networks outright). Same closed-form device as the roundtrip gate:
  // addresses are synthesized from integer groups (a multiplicative
  // hash spreads them over the full 16-bit group space, plus four
  // crafted rows sitting exactly ON and just OUTSIDE a /99's binary
  // range bounds), so DuckDB evaluates membership as pure integer
  // prefix arithmetic while Spark runs the REAL path: text -> 16-byte
  // binary (Ip6ToBytes codegen) -> inclusive binary-range predicate
  // (Cidr6.parse + cidr6Contains — the sargable form a 100 TB scan
  // pushes down). Prefix lengths cross every boundary class: whole
  // prefix (/32), non-member sibling (/32), mid-nibble (/100),
  // byte (/104), mid-group (/99), group+byte (/120), exact (/128).
  def qIp6Cidr(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Ip6Expressions._
    val spread = lit(2654435761L) // Knuth multiplicative constant
    val hashed = t(s, dir, "events").select(col("user_id")).distinct()
      .withColumn("g7",
        shiftright(col("user_id") * spread, 16).bitwiseAND(lit(65535L)))
      .withColumn("g8", (col("user_id") * spread).bitwiseAND(lit(65535L)))
    // exact start / exact end / one-below / one-above of the /99 range
    // [2001:db8::2000:0, 2001:db8::3fff:ffff] — inclusive-bound pins
    val boundary = s.createDataFrame(Seq(
      (-1L, 0x2000L, 0x0000L), (-2L, 0x3fffL, 0xffffL),
      (-3L, 0x1fffL, 0xffffL), (-4L, 0x4000L, 0x0000L)))
      .toDF("user_id", "g7", "g8")
    hashed.unionByName(boundary)
      .withColumn("ip6", concat(lit("2001:0db8:0000:0000:0000:0000:"),
        lpad(lower(hex(col("g7"))), 4, "0"), lit(":"),
        lpad(lower(hex(col("g8"))), 4, "0")))
      .withColumn("b", ip6ToBytes(col("ip6")))
      .select(col("user_id"), col("ip6"),
        cidr6Contains("2001:db8::/32", col("b")).as("in_db8_32"),
        cidr6Contains("2001:db9::/32", col("b")).as("in_db9_32"),
        cidr6Contains("2001:db8::3000:0/100", col("b")).as("in_p100"),
        cidr6Contains("2001:db8::aa00:0/104", col("b")).as("in_p104"),
        cidr6Contains("2001:db8::2000:0/99", col("b")).as("in_p99"),
        cidr6Contains("2001:db8::2000:7700/120", col("b")).as("in_p120"),
        cidr6Contains("2001:db8::2000:0/128", col("b")).as("in_p128"))
      .orderBy("user_id")
  }

  // R19: exponentially-decayed event-rate baseline per /24 — hourly
  // half-life fold over a dense week spine; all-integer recurrence, so
  // the DuckDB oracle runs the identical fold via list_reduce.
  def qBaselineEwma(s: SparkSession, dir: String): DataFrame =
    Baseline.ewmaRate(hostEvents(s, dir), "host", "ts",
        windowHours = 168, prefix = 24)
      .orderBy("network")

  // R28: Holt level + trend over the same hourly spine — the
  // next-hour forecast the level-only EWMA lags on ramps.
  def qHoltForecast(s: SparkSession, dir: String): DataFrame =
    Baseline.holtForecast(hostEvents(s, dir), "host", "ts",
        windowHours = 168, prefix = 24, horizonHours = 1)
      .orderBy("network")

  // R16: robust MAD anomaly scoring — last hour vs 7-day median/MAD
  // per /24, threshold 3x MAD.
  def qMadAnomaly(s: SparkSession, dir: String): DataFrame =
    madAnomaly(s, dir, bucketKernel = false)

  private def madAnomaly(s: SparkSession, dir: String,
      bucketKernel: Boolean): DataFrame =
    Baseline.madAnomaly(hostEvents(s, dir), "host", "value", "ts",
        windowSeconds = week, currentSeconds = 3600L, prefix = 24,
        kNum = 3, kDen = 1, bucketKernel = bucketKernel)
      .orderBy("network")

  // R14b/R16 on the RankSelect bucket kernel — gated against the
  // IDENTICAL oracle SQL as the window formulation: both kernels must
  // select the same element, making the hot-group plan a verified
  // drop-in.
  def qBaselineP95Rs(s: SparkSession, dir: String): DataFrame =
    baselineP95(s, dir, bucketKernel = true)

  def qMadAnomalyRs(s: SparkSession, dir: String): DataFrame =
    madAnomaly(s, dir, bucketKernel = true)

  /** R20/R21 share the per-/24 keying the other baselines use. */
  private def netEvents(s: SparkSession, dir: String): DataFrame =
    hostEvents(s, dir)
      .withColumn("network", IpFunctions.prefixNetwork(col("host"), 24))

  // R20: one-sided CUSUM changepoint per /24 on hourly event counts —
  // allowance 7 (above the corpus hourly mean), alarm at 15. The
  // sequential recurrence runs as its prefix-sum closed form, so the
  // oracle is two window functions; every value is an integer.
  def qCusum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changepoint.cusumEvents(netEvents(s, dir),
        "network", "ts", bucketSeconds = 3600L, allowance = 7L, threshold = 15L)
      .orderBy("network", "bucket")

  // R21: per-host OLS trend of DAILY event counts — is this host
  // ramping? Moment sums are exact; one IEEE division per coefficient.
  def qTrend(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changepoint.trendEvents(hostEvents(s, dir),
        "host", "ts", bucketSeconds = 86400L)
      .orderBy("host")

  // R23: parametric z-score anomaly, 3 sigma — last hour vs 7-day
  // mean/std per /24; the micro-unit cross-multiplied test.
  def qZscoreAnomaly(s: SparkSession, dir: String): DataFrame =
    Baseline.zscoreAnomaly(hostEvents(s, dir), "host", "value", "ts",
        windowSeconds = week, currentSeconds = 3600L, prefix = 24,
        kNum = 3, kDen = 1)
      .orderBy("network")

  // R29: ban/unban hysteresis per /24 on hourly event counts — raise
  // above 8/hour, clear at <= 3/hour (the reference's
  // threshold/unban_threshold pair as one LOCF window).
  def qHysteresis(s: SparkSession, dir: String): DataFrame = {
    val hourly = netEvents(s, dir)
      .groupBy(col("network").as("key"),
        expr("unix_micros(ts) div 3600000000").as("t"))
      .agg(count(lit(1)).as("v"))
    graft.operators.Changepoint.hysteresis(hourly, "key", "t", "v",
        hi = 8L, lo = 3L)
      .orderBy("key", "t")
  }

  // R24: burst-duration statistics per /24 — maximal consecutive-hour
  // runs at >= 8 events/hour (gaps-and-islands, all-integer).
  def qBursts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changepoint.burstStats(netEvents(s, dir),
        "network", "ts", bucketSeconds = 3600L, threshold = 8L)
      .orderBy("network")

  // R25: traffic concentration per /26 — HHI + top-host share;
  // one host at HHI ~1 and a botnet at HHI ~1/n are the same pps.
  // (/26 so small SFs, whose hosts all sit in 10.0.0.x, still
  // exercise multiple groups — the Shared.netList rationale.)
  def qConcentration(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changepoint.concentration(
        hostEvents(s, dir)
          .withColumn("network", IpFunctions.prefixNetwork(col("host"), 26)),
        "network", "host")
      .orderBy("network")

  // R27: which HOSTS changed most between the two most recent days —
  // the deltoid triage table (new talkers and gone-silent keys rank
  // alongside ramps). Host-keyed: the /24 roll-up collapses to one
  // group on the synthetic 10.0.0.x host space (the Shared.netList
  // rationale), and per-host is the deltoids' natural granularity.
  def qHeavyChange(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changepoint.heavyChange(hostEvents(s, dir),
      "host", "ts", windowSeconds = 86400L, topK = 20)

  /** R26 gate fixture: a deterministic three-level CIDR table over the
    * synthetic 10.0.0.0/8 host space — a /8 backbone fallback, even
    * second-octet /16 regions, and /24 sites where (o2 + o3) % 3 == 0
    * (so every specificity level actually wins somewhere). The oracle
    * rebuilds the SAME rules in closed form and resolves the longest
    * match arithmetically — it never sees the generic operator.
    */
  def lpmBlocks(s: SparkSession): DataFrame = {
    import s.implicits._
    val b8 = Seq(("10.0.0.0/8", "backbone"))
    val b16 = (0 until 256 by 2).map(b => (s"10.$b.0.0/16", s"region-$b"))
    val b24 = for { b <- 0 until 16; c <- 0 until 256 if (b + c) % 3 == 0 }
      yield (s"10.$b.$c.0/24", s"site-$b-$c")
    (b8 ++ b16 ++ b24).toDF("cidr", "owner")
  }

  // R26: longest-prefix-match enrichment — per matched block: event
  // and distinct-host counts (the per-customer/per-site attribution
  // report a routing-table join exists to produce).
  def qLpmEnrich(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lpm.lpmEnrich(hostEvents(s, dir), "host",
        lpmBlocks(s), "cidr")
      .groupBy("owner", "matched_cidr", "matched_len")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("host")).as("n_hosts"))
      .orderBy("matched_cidr")

  /** [[lpmBlocks]] in IPv6 clothes: /32 backbone, even-second-group
    * /48 regions, /64 sites where (b + c) % 3 == 0 — hex group text,
    * decimal owner labels, so the oracle rebuilds both with printf.
    */
  def lpm6Blocks(s: SparkSession): DataFrame = {
    import s.implicits._
    val b32 = Seq(("2001:db8::/32", "backbone"))
    val b48 = (0 until 256 by 2).map(b => (f"2001:db8:$b%x::/48", s"region-$b"))
    val b64 = for { b <- 0 until 16; c <- 0 until 256 if (b + c) % 3 == 0 }
      yield (f"2001:db8:$b%x:$c%x::/64", s"site-$b-$c")
    (b32 ++ b48 ++ b64).toDF("cidr", "owner")
  }

  // R26 v6: the same attribution report over IPv6 — hosts synthesized
  // as 2001:db8:<o2>:<o3>::<o4> from the user_id octets (compressed
  // text, so the R13 parser is exercised end-to-end), matched against
  // the three-specificity v6 block table. The reference skips IPv6
  // networks outright (main.go:223-227).
  def qLpm6Enrich(s: SparkSession, dir: String): DataFrame = {
    def g(shift: Int) = lower(hex(
      shiftright(col("user_id"), shift).bitwiseAND(lit(255L))))
    val e = t(s, dir, "events").select(col("user_id"))
      .withColumn("ip6", concat(lit("2001:db8:"), g(16), lit(":"),
        g(8), lit("::"), g(0)))
    graft.operators.Lpm.lpmEnrich6(e, "ip6", lpm6Blocks(s), "cidr")
      .groupBy("owner", "matched_cidr", "matched_len")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("ip6")).as("n_hosts"))
      .orderBy("matched_cidr")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mad_anomaly" -> qMadAnomaly,
    "q_lpm_enrich" -> qLpmEnrich,
    "q_lpm6_enrich" -> qLpm6Enrich,
    "q_cusum" -> qCusum,
    "q_trend" -> qTrend,
    "q_zscore_anomaly" -> qZscoreAnomaly,
    "q_bursts" -> qBursts,
    "q_hysteresis" -> qHysteresis,
    "q_concentration" -> qConcentration,
    "q_heavy_change" -> qHeavyChange,
    "q_ip_roundtrip" -> qIpRoundtrip,
    "q_cidr_filter" -> qCidrFilter,
    "q_baseline_avg" -> qBaselineAvg,
    "q_baseline_max" -> qBaselineMax,
    "q_baseline_p95" -> qBaselineP95,
    "q_baseline_ewma" -> qBaselineEwma,
    "q_holt_forecast" -> qHoltForecast,
    "q_ip6_roundtrip" -> qIp6Roundtrip,
    "q_ip6_cidr" -> qIp6Cidr,
    "q_baseline_p95_rs" -> qBaselineP95Rs,
    "q_mad_anomaly_rs" -> qMadAnomalyRs,
    "q_baseline_incremental" -> qBaselineIncremental,
    "q_baseline_seasonal" -> qBaselineSeasonal,
    "q_thresholds" -> qThresholds,
    "q_hostgroups" -> qHostgroups,
    "q_hostgroup_lifecycle" -> qHostgroupLifecycle,
    "q_metrics_wide" -> qMetricsWide)

  // ---------------------------------------------------------------- oracle

  /** DuckDB-side host derivation (SURVEY.md §4). */
  private val ipNumSql = "167772160 + (user_id & 16777215)"

  private def numToIpSql(n: String): String =
    s"(($n>>24)&255) || '.' || (($n>>16)&255) || '.' || (($n>>8)&255) || '.' || ($n&255)"

  private val windowSql =
    "ts >= (SELECT max(ts) FROM events) - INTERVAL 604800 SECOND"

  /** DuckDB twin of Baseline.aggFor: avg goes through the same
    * exact-decimal-sum / single-division contract as the Spark side
    * (a raw double avg is partition-order dependent under floor).
    */
  private def aggSql(agg: String, x: String): String =
    if (agg == "avg")
      s"(CAST(round(sum(CAST(($x) AS DECIMAL(28,10))), 6) AS DOUBLE) / count($x))"
    else s"$agg($x)"

  private def baselineSql(agg: String): String = {
    val per = eventTypes.map(ty =>
      s"CAST(floor(${aggSql(agg, s"CASE WHEN event_type = '$ty' THEN value END")}) AS BIGINT) AS ${agg}_$ty").mkString(", ")
    s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
       |n AS (SELECT *, ${numToIpSql("(ip_num & 4294967040)")} AS network FROM w)
       |SELECT network, count(*) AS n_events,
       |  CAST(floor(${aggSql(agg, "value")}) AS BIGINT) AS ${agg}_value, $per
       |FROM n GROUP BY network ORDER BY network""".stripMargin
  }

  /** Shared CTEs for hostgroup oracles: windowed events with network
    * assignment over the 6 /24s + the three stand-in metrics.
    */
  private def hostgroupCtes(agg: String): String = {
    val cases = netList.map { n =>
      val c = Cidr.parse(n)
      s"WHEN ip_num BETWEEN ${c.start} AND ${c.end} THEN '${c.networkString}'"
    }.mkString(" ")
    s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
       |n AS (SELECT *, CASE $cases END AS network FROM w),
       |a AS (SELECT network, count(*) AS n_rows,
       |  CAST(floor(${aggSql(agg, "value * 1048576")}) AS BIGINT) AS bits_incoming,
       |  CAST(floor(${aggSql(agg, "value / 10")}) AS BIGINT) AS flows_incoming,
       |  CAST(floor(${aggSql(agg, "value")}) AS BIGINT) AS packets_incoming
       |FROM n WHERE network IS NOT NULL GROUP BY network),
       |th AS (SELECT *,
       |  packets_incoming * 2 AS raw_pps,
       |  CAST(floor((bits_incoming * 3) / 1048576) AS BIGINT) AS raw_mbps,
       |  flows_incoming + 200 AS raw_flows
       |FROM a)""".stripMargin
  }

  private def hostgroupBaseSql(agg: String): String =
    s"""${hostgroupCtes(agg)}
       |SELECT network, n_rows, bits_incoming, flows_incoming, packets_incoming,
       |  CASE WHEN raw_pps > 0 THEN raw_pps END AS threshold_pps,
       |  raw_pps > 0 AS threshold_pps_active,
       |  CASE WHEN raw_mbps > 0 THEN raw_mbps END AS threshold_mbps,
       |  raw_mbps > 0 AS threshold_mbps_active,
       |  CASE WHEN raw_flows > 0 THEN raw_flows END AS threshold_flows,
       |  raw_flows > 0 AS threshold_flows_active,
       |  replace(replace(network, '.', '_'), '/', '_') AS hostgroup""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_ip_roundtrip" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |h AS (SELECT $ipNumSql AS ip_num FROM u)
         |SELECT ${numToIpSql("ip_num")} AS host, ip_num,
         |  ${numToIpSql("ip_num")} AS back,
         |  ${numToIpSql("(ip_num & 4294967040)")} AS net24,
         |  ${numToIpSql("(ip_num & 4294901760)")} AS net16
         |FROM h ORDER BY ip_num""".stripMargin,
    "q_cidr_filter" ->
      s"""WITH e AS (SELECT *, $ipNumSql AS ip_num FROM events)
         |SELECT event_id, ${numToIpSql("ip_num")} AS host, ip_num
         |FROM e WHERE ip_num BETWEEN 167772224 AND 167772287
         |ORDER BY event_id""".stripMargin,
    // R26: the oracle KNOWS the fixture's three specificity levels, so
    // it resolves the longest match arithmetically per host — no
    // generic LPM machinery on the oracle side.
    "q_lpm_enrich" ->
      s"""WITH e AS (SELECT $ipNumSql AS hn FROM events),
         |h AS (SELECT hn, (hn >> 16) & 255 AS o2, (hn >> 8) & 255 AS o3 FROM e),
         |m AS (SELECT hn, o2, o3,
         |    CASE WHEN o2 <= 15 AND (o2 + o3) % 3 = 0 THEN 24
         |         WHEN o2 % 2 = 0 THEN 16 ELSE 8 END AS len
         |  FROM h),
         |r AS (SELECT hn,
         |    CASE len WHEN 24 THEN 'site-' || o2 || '-' || o3
         |             WHEN 16 THEN 'region-' || o2
         |             ELSE 'backbone' END AS owner,
         |    CASE len WHEN 24 THEN '10.' || o2 || '.' || o3 || '.0/24'
         |             WHEN 16 THEN '10.' || o2 || '.0.0/16'
         |             ELSE '10.0.0.0/8' END AS matched_cidr,
         |    CAST(len AS INTEGER) AS matched_len
         |  FROM m)
         |SELECT owner, matched_cidr, matched_len,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT hn) AS BIGINT) AS n_hosts
         |FROM r GROUP BY 1, 2, 3 ORDER BY matched_cidr""".stripMargin,
    // R26 v6: same closed-form resolution — the oracle KNOWS the
    // fixture's three specificity levels and rebuilds the hex block
    // text with printf; it never parses IPv6.
    "q_lpm6_enrich" ->
      """WITH e AS (SELECT user_id & 16777215 AS hn,
        |    (user_id >> 16) & 255 AS o2, (user_id >> 8) & 255 AS o3
        |  FROM events),
        |m AS (SELECT hn, o2, o3,
        |    CASE WHEN o2 <= 15 AND (o2 + o3) % 3 = 0 THEN 64
        |         WHEN o2 % 2 = 0 THEN 48 ELSE 32 END AS len
        |  FROM e),
        |r AS (SELECT hn,
        |    CASE len WHEN 64 THEN 'site-' || o2 || '-' || o3
        |             WHEN 48 THEN 'region-' || o2
        |             ELSE 'backbone' END AS owner,
        |    CASE len WHEN 64 THEN '2001:db8:' || printf('%x', o2)
        |                || ':' || printf('%x', o3) || '::/64'
        |             WHEN 48 THEN '2001:db8:' || printf('%x', o2) || '::/48'
        |             ELSE '2001:db8::/32' END AS matched_cidr,
        |    CAST(len AS INTEGER) AS matched_len
        |  FROM m)
        |SELECT owner, matched_cidr, matched_len,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT hn) AS BIGINT) AS n_hosts
        |FROM r GROUP BY 1, 2, 3 ORDER BY matched_cidr""".stripMargin,
    "q_baseline_avg" -> baselineSql("avg"),
    "q_baseline_max" -> baselineSql("max"),
    "q_baseline_incremental" ->
      s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
         |n AS (SELECT *, ${numToIpSql("(ip_num & 4294967040)")} AS network FROM w)
         |SELECT network, count(value) AS n_events,
         |  CAST(floor(${aggSql("avg", "value")}) AS BIGINT) AS avg_value,
         |  CAST(floor(max(value)) AS BIGINT) AS max_value
         |FROM n GROUP BY network ORDER BY network""".stripMargin,
    "q_baseline_p95" ->
      s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
         |n AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS network, value FROM w),
         |r AS (SELECT network, value,
         |        row_number() OVER (PARTITION BY network ORDER BY value) AS rk,
         |        count(*) OVER (PARTITION BY network) AS n
         |      FROM n)
         |SELECT network, max(n) AS n_events,
         |  CAST(floor(min(value)) AS BIGINT) AS p95_value
         |FROM r WHERE rk * 20 >= 19 * n
         |GROUP BY network ORDER BY network""".stripMargin,
    // R13: expected parse bytes and canonical form computed
    // arithmetically from the integer groups (no oracle-side parser).
    "q_ip6_roundtrip" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |g AS (SELECT user_id, (user_id >> 16) & 65535 AS g7,
        |        user_id & 65535 AS g8 FROM u)
        |SELECT user_id,
        |  '2001:0db8:0000:0000:0000:0000:' || printf('%04x', g7)
        |    || ':' || printf('%04x', g8) AS ip6,
        |  '20010db80000000000000000' || printf('%04x', g7)
        |    || printf('%04x', g8) AS bytes_hex,
        |  CASE WHEN g7 = 0 AND g8 = 0 THEN '2001:db8::'
        |       WHEN g7 = 0 THEN '2001:db8::' || printf('%x', g8)
        |       ELSE '2001:db8::' || printf('%x', g7) || ':' || printf('%x', g8)
        |  END AS canonical
        |FROM g ORDER BY user_id""".stripMargin,
    // R13: CIDR membership as closed-form integer prefix arithmetic on
    // the synthesized groups — Spark runs the real binary-range
    // predicate; agreement proves parse + inclusive range bounds.
    "q_ip6_cidr" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |g AS (SELECT user_id,
        |        ((user_id * 2654435761) >> 16) & 65535 AS g7,
        |        (user_id * 2654435761) & 65535 AS g8 FROM u
        |      UNION ALL
        |      SELECT * FROM (VALUES
        |        (CAST(-1 AS BIGINT), CAST(8192 AS BIGINT), CAST(0 AS BIGINT)),
        |        (CAST(-2 AS BIGINT), CAST(16383 AS BIGINT), CAST(65535 AS BIGINT)),
        |        (CAST(-3 AS BIGINT), CAST(8191 AS BIGINT), CAST(65535 AS BIGINT)),
        |        (CAST(-4 AS BIGINT), CAST(16384 AS BIGINT), CAST(0 AS BIGINT)))
        |        v(user_id, g7, g8))
        |SELECT user_id,
        |  '2001:0db8:0000:0000:0000:0000:' || printf('%04x', g7)
        |    || ':' || printf('%04x', g8) AS ip6,
        |  TRUE AS in_db8_32,
        |  FALSE AS in_db9_32,
        |  (g7 >> 12) = 3 AS in_p100,
        |  (g7 >> 8) = 170 AS in_p104,
        |  (g7 >> 13) = 1 AS in_p99,
        |  g7 = 8192 AND (g8 >> 8) = 119 AS in_p120,
        |  g7 = 8192 AND g8 = 0 AS in_p128
        |FROM g ORDER BY user_id""".stripMargin,
    // R19: the IDENTICAL integer fold — list_reduce over the dense
    // hour spine, state halved per hour (integer division both sides).
    // R28: the identical Holt fold — LIST-state list_reduce
    // ([s, b, init]; a struct-state lambda hit a DuckDB 1.0 quirk
    // where `a.s` in the trend field resolved against the struct
    // being BUILT, yielding trend 0 — toy-cased and worked around),
    // with EXPLICIT floor(x / 2.0) both sides (the trend term goes
    // negative, where `div` truncates but `//` floors).
    "q_holt_forecast" ->
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS e FROM events),
         |w AS (SELECT $ipNumSql AS ip_num,
         |        ((SELECT e FROM mx) - epoch_us(ts)) // 3600000000 AS ago
         |      FROM events
         |      WHERE ((SELECT e FROM mx) - epoch_us(ts)) // 3600000000 < 168),
         |n AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS network,
         |        167 - ago AS h FROM w),
         |c AS (SELECT network, h, count(*) AS n FROM n GROUP BY 1, 2),
         |spine AS (SELECT s.network, gs.h
         |  FROM (SELECT network, min(h) AS h0 FROM c GROUP BY 1) s
         |  CROSS JOIN (SELECT unnest(generate_series(0, 167)) AS h) gs
         |  WHERE gs.h >= s.h0),
         |d AS (SELECT spine.network, spine.h,
         |        coalesce(c.n, CAST(0 AS BIGINT)) AS n
         |      FROM spine LEFT JOIN c
         |        ON c.network = spine.network AND c.h = spine.h),
         |f AS (SELECT network,
         |  list_reduce(
         |    list_prepend(
         |      [CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
         |      list([n, CAST(0 AS BIGINT), CAST(0 AS BIGINT)] ORDER BY h)),
         |    (a, x) -> CASE WHEN a[3] = 0 THEN
         |        [x[1], CAST(0 AS BIGINT), CAST(1 AS BIGINT)]
         |      ELSE [
         |        CAST(floor((x[1] + a[1] + a[2]) / 2.0) AS BIGINT),
         |        CAST(floor((CAST(floor((x[1] + a[1] + a[2]) / 2.0)
         |          AS BIGINT) - a[1] + a[2]) / 2.0) AS BIGINT),
         |        CAST(1 AS BIGINT)] END) AS st,
         |  CAST(sum(n) AS BIGINT) AS n_events
         |  FROM d GROUP BY network)
         |SELECT network, st[1] AS level, st[2] AS trend,
         |  st[1] + 1 * st[2] AS forecast, n_events
         |FROM f ORDER BY network""".stripMargin,
    "q_baseline_ewma" ->
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS e FROM events),
         |w AS (SELECT $ipNumSql AS ip_num,
         |        ((SELECT e FROM mx) - epoch_us(ts)) // 3600000000 AS ago
         |      FROM events
         |      WHERE ((SELECT e FROM mx) - epoch_us(ts)) // 3600000000 < 168),
         |n AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS network,
         |        167 - ago AS h FROM w),
         |c AS (SELECT network, h, count(*) AS n FROM n GROUP BY 1, 2),
         |spine AS (SELECT s.network, gs.h
         |  FROM (SELECT DISTINCT network FROM n) s
         |  CROSS JOIN (SELECT unnest(generate_series(0, 167)) AS h) gs),
         |d AS (SELECT spine.network, spine.h, coalesce(c.n, CAST(0 AS BIGINT)) AS n
         |  FROM spine LEFT JOIN c ON c.network = spine.network AND c.h = spine.h)
         |SELECT network,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(n ORDER BY h)),
         |    (a, b) -> a // 2 + b) AS ewma_rate,
         |  CAST(sum(n) AS BIGINT) AS n_events
         |FROM d GROUP BY network ORDER BY network""".stripMargin,
    // R20: CUSUM via the prefix-sum closed form — the same two windows.
    "q_cusum" ->
      s"""WITH n AS (SELECT $ipNumSql AS ip_num, ts FROM events),
         |b AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS network,
         |        epoch_us(ts) // 3600000000 AS bucket FROM n),
         |c AS (SELECT network, bucket, count(*) AS x FROM b GROUP BY 1, 2),
         |p AS (SELECT network, bucket, x,
         |        sum(x - 7) OVER (PARTITION BY network ORDER BY bucket
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM c),
         |s AS (SELECT network, bucket, x,
         |        CAST(cum - least(min(cum) OVER (PARTITION BY network
         |          ORDER BY bucket ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS cusum
         |      FROM p)
         |SELECT network, bucket, x, cusum,
         |  CAST(cusum >= 15 AS INTEGER) AS alarm
         |FROM s ORDER BY network, bucket""".stripMargin,
    // R21: OLS moments and cross products as exact longs (overflow
    // raises, never wraps — long-exact past 10^5 buckets/key), one
    // long->double cast per term, one IEEE division.
    "q_trend" ->
      s"""WITH n AS (SELECT $ipNumSql AS ip_num, ts FROM events),
         |b AS (SELECT ${numToIpSql("ip_num")} AS host,
         |        epoch_us(ts) // 86400000000 AS bucket FROM n),
         |c AS (SELECT host, bucket, count(*) AS y FROM b GROUP BY 1, 2),
         |rel AS (SELECT host, y,
         |          bucket - min(bucket) OVER (PARTITION BY host) AS x
         |        FROM c),
         |m AS (SELECT host, count(*) AS n_buckets,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(x * y) AS BIGINT) AS sxy,
         |        CAST(sum(x * x) AS BIGINT) AS sxx
         |      FROM rel GROUP BY host),
         |f AS (SELECT host, n_buckets, sx, sy,
         |        CAST(round(CAST(CAST((CAST(n_buckets * sxy - sx * sy AS DOUBLE)
         |          / CAST(n_buckets * sxx - sx * sx AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS slope,
         |        n_buckets * sxx - sx * sx AS den
         |      FROM m)
         |SELECT host, n_buckets, slope,
         |  CAST(round(CAST(CAST(((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_buckets) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)
         |    AS intercept
         |FROM f WHERE den <> 0 ORDER BY host""".stripMargin,
    // R25: HHI + top share from exact integer moments (/26 groups).
    "q_concentration" ->
      s"""WITH n AS (SELECT $ipNumSql AS ip_num FROM events),
         |h AS (SELECT ${numToIpSql("(ip_num & 4294967232)")} AS network,
         |        ${numToIpSql("ip_num")} AS host FROM n),
         |c AS (SELECT network, host, count(*) AS c FROM h GROUP BY 1, 2),
         |m AS (SELECT network, count(*) AS n_sources,
         |        CAST(sum(c) AS BIGINT) AS total,
         |        CAST(sum(c * c) AS BIGINT) AS sumsq,
         |        CAST(max(c) AS BIGINT) AS maxc
         |      FROM c GROUP BY network)
         |SELECT network, n_sources, total AS n_events,
         |  CAST(round(CAST(CAST((CAST(sumsq AS DOUBLE) / CAST(total * total AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS hhi,
         |  CAST(round(CAST(CAST((CAST(maxc AS DOUBLE) / CAST(total AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS top_share
         |FROM m ORDER BY network""".stripMargin,
    // R27: adjacent-window count deltas per host, top-20 by |delta|.
    "q_heavy_change" ->
      s"""WITH n AS (SELECT $ipNumSql AS ip_num, ts FROM events),
         |m AS (SELECT max(ts) AS e FROM n),
         |t AS (SELECT ${numToIpSql("ip_num")} AS host,
         |    CASE WHEN ts >= e - INTERVAL 86400 SECONDS
         |      THEN 1 ELSE 0 END AS cur
         |  FROM n CROSS JOIN m
         |  WHERE ts >= e - INTERVAL 172800 SECONDS),
         |c AS (SELECT host, CAST(sum(cur) AS BIGINT) AS n_cur,
         |    CAST(sum(1 - cur) AS BIGINT) AS n_prev
         |  FROM t GROUP BY 1)
         |SELECT host, n_cur, n_prev, n_cur - n_prev AS delta,
         |  abs(n_cur - n_prev) AS abs_delta,
         |  CAST(round(CAST(CAST((n_cur / (n_prev + 1.0)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS ratio,
         |  CAST(row_number() OVER (ORDER BY abs(n_cur - n_prev) DESC,
         |    host) AS INTEGER) AS rnk
         |FROM c ORDER BY rnk LIMIT 20""".stripMargin,
    // R24: gaps-and-islands — bucket − row_number island ids.
    // R29: the same LOCF-over-signal window (the A52 IGNORE NULLS
    // device) and the same transition lag.
    "q_hysteresis" ->
      s"""WITH n AS (SELECT $ipNumSql AS ip_num, ts FROM events),
         |h AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS key,
         |        epoch_us(ts) // 3600000000 AS t FROM n),
         |c AS (SELECT key, t, CAST(count(*) AS BIGINT) AS v FROM h GROUP BY 1, 2),
         |s AS (SELECT key, t, v,
         |        coalesce(last_value(
         |            CASE WHEN v > 8 THEN 1 WHEN v <= 3 THEN 0 END
         |            IGNORE NULLS)
         |          OVER (PARTITION BY key ORDER BY t
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |          0) AS alert
         |      FROM c),
         |p AS (SELECT *, coalesce(lag(alert)
         |        OVER (PARTITION BY key ORDER BY t), 0) AS prev FROM s)
         |SELECT key, t, v, CAST(alert AS BIGINT) AS alert,
         |  CASE WHEN alert = 1 AND prev = 0 THEN 'raise'
         |       WHEN alert = 0 AND prev = 1 THEN 'clear' END AS event
         |FROM p ORDER BY key, t""".stripMargin,
    "q_bursts" ->
      s"""WITH n AS (SELECT $ipNumSql AS ip_num, ts FROM events),
         |b AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS network,
         |        epoch_us(ts) // 3600000000 AS bucket FROM n),
         |c AS (SELECT network, bucket, count(*) AS x FROM b GROUP BY 1, 2),
         |a AS (SELECT network, bucket FROM c WHERE x >= 8),
         |i AS (SELECT network, bucket,
         |        bucket - row_number() OVER (PARTITION BY network
         |          ORDER BY bucket) AS grp
         |      FROM a),
         |runs AS (SELECT network, grp, count(*) AS len, min(bucket) AS start
         |         FROM i GROUP BY 1, 2)
         |SELECT network, count(*) AS n_bursts,
         |  CAST(max(len) AS BIGINT) AS longest_burst,
         |  CAST(sum(len) AS BIGINT) AS burst_buckets,
         |  min(start) AS first_burst_bucket
         |FROM runs GROUP BY network ORDER BY network""".stripMargin,
    // R23: micro-unit moments; squares and the cross-multiplied
    // k-sigma test in HUGEINT (the Spark side's decimal(38,0) twin).
    "q_zscore_anomaly" ->
      s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
         |n AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS network,
         |        CAST(round(value * 1e6) AS BIGINT) AS v6,
         |        ts >= (SELECT max(ts) FROM events) - INTERVAL 3600 SECOND AS is_current
         |      FROM w),
         |h AS (SELECT network, count(*) AS n_hist,
         |        CAST(sum(v6) AS BIGINT) AS sx,
         |        CAST(sum(CAST(v6 AS HUGEINT) * v6) AS HUGEINT) AS sxx
         |      FROM n WHERE NOT is_current GROUP BY network),
         |c AS (SELECT network, count(*) AS n_current,
         |        CAST(sum(v6) AS BIGINT) AS sc
         |      FROM n WHERE is_current GROUP BY network),
         |f AS (SELECT h.network, h.n_hist, c.n_current, h.sx, c.sc,
         |        CAST(h.n_hist AS HUGEINT) * h.sxx
         |          - CAST(h.sx AS HUGEINT) * h.sx AS var_num,
         |        CAST(c.sc AS HUGEINT) * h.n_hist
         |          - CAST(h.sx AS HUGEINT) * c.n_current AS dev_num
         |      FROM h JOIN c ON h.network = c.network)
         |SELECT network, n_hist, n_current,
         |  CAST(round(CAST(CAST((CAST(sx AS DOUBLE) / n_hist / 1e6) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mean_value,
         |  CAST(round(CAST(CAST((sqrt(CAST(var_num AS DOUBLE)) / n_hist / 1e6) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS std_value,
         |  CAST(round(CAST(CAST((CAST(sc AS DOUBLE) / n_current / 1e6) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS current_avg,
         |  CAST(dev_num * dev_num * 1 >
         |    9 * CAST(n_current AS HUGEINT) * n_current * var_num AS INTEGER)
         |    AS is_anomaly
         |FROM f ORDER BY network""".stripMargin,
    "q_mad_anomaly" ->
      s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
         |n AS (SELECT ${numToIpSql("(ip_num & 4294967040)")} AS network, value,
         |        ts >= (SELECT max(ts) FROM events) - INTERVAL 3600 SECOND AS is_current
         |      FROM w),
         |hist AS (SELECT network, value AS v FROM n WHERE NOT is_current),
         |cur AS (SELECT network, count(*) AS n_current,
         |          (CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE)
         |            / count(value)) AS current_avg
         |        FROM n WHERE is_current GROUP BY network),
         |hr AS (SELECT network, v,
         |         row_number() OVER (PARTITION BY network ORDER BY v) AS rk,
         |         count(*) OVER (PARTITION BY network) AS cnt
         |       FROM hist),
         |med AS (SELECT network, max(cnt) AS n_hist, min(v) AS med
         |        FROM hr WHERE rk * 2 >= cnt GROUP BY network),
         |dev AS (SELECT h.network, abs(h.v - m.med) AS d
         |        FROM hist h JOIN med m ON h.network = m.network),
         |dr AS (SELECT network, d,
         |         row_number() OVER (PARTITION BY network ORDER BY d) AS rk,
         |         count(*) OVER (PARTITION BY network) AS cnt
         |       FROM dev),
         |mad AS (SELECT network, min(d) AS mad
         |        FROM dr WHERE rk * 2 >= cnt GROUP BY network)
         |SELECT m.network, m.n_hist, c.n_current, m.med, a.mad,
         |  CAST(round(CAST(CAST((c.current_avg) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS current_avg,
         |  (abs(CAST(round(CAST(CAST((c.current_avg) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) - m.med) * 1 > 3 * a.mad) AS is_anomaly
         |FROM med m JOIN mad a ON m.network = a.network
         |JOIN cur c ON m.network = c.network
         |ORDER BY m.network""".stripMargin,
    "q_baseline_seasonal" ->
      s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
         |n AS (SELECT *, ${numToIpSql("(ip_num & 4294967040)")} AS network,
         |        CAST(hour(ts) AS BIGINT) AS hour_of_day FROM w)
         |SELECT network, hour_of_day, count(*) AS n_events,
         |  CAST(floor(${aggSql("avg", "value")}) AS BIGINT) AS avg_value
         |FROM n GROUP BY network, hour_of_day
         |ORDER BY network, hour_of_day""".stripMargin,
    "q_thresholds" ->
      (hostgroupBaseSql("avg") + "\nFROM th ORDER BY network"),
    "q_hostgroups" ->
      (hostgroupBaseSql("max") + ", true AS enable_ban\nFROM th ORDER BY network"),
    "q_hostgroup_lifecycle" -> {
      val cur = currentHostgroups.map(n => s"('$n')").mkString(", ")
      s"""${hostgroupCtes("max")},
         |gen AS (SELECT replace(replace(network, '.', '_'), '/', '_') AS name FROM th),
         |cur(name) AS (VALUES $cur)
         |SELECT * FROM (
         |  SELECT 0 AS step, 'remove' AS action, name FROM cur WHERE name <> 'global'
         |  UNION ALL
         |  SELECT 1 AS step, 'create' AS action, name FROM gen)
         |ORDER BY step, action, name""".stripMargin
    },
    "q_metrics_wide" -> {
      val per = eventTypes.flatMap { ty =>
        val v = s"CASE WHEN event_type = '$ty' THEN value END"
        Seq(
          s"count($v) AS n_$ty",
          s"${avg4Sql(v)} AS avg_$ty",
          s"max($v) AS max_$ty",
          s"${sum2Sql(v)} AS sum_$ty")
      }.mkString(", ")
      s"""WITH w AS (SELECT *, $ipNumSql AS ip_num FROM events WHERE $windowSql),
         |n AS (SELECT *, ${numToIpSql("(ip_num & 4294967040)")} AS network FROM w)
         |SELECT network, count(*) AS n_total, $per
         |FROM n GROUP BY network ORDER BY network""".stripMargin
    })

  /** The kernel variants are gated against the IDENTICAL oracle SQL as
    * their window formulations — the whole point: same element, either
    * physical plan.
    */
  val oracleSqlAll: Map[String, String] = oracleSql +
    ("q_baseline_p95_rs" -> oracleSql("q_baseline_p95")) +
    ("q_mad_anomaly_rs" -> oracleSql("q_mad_anomaly"))
}
