package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.IpFunctions.Cidr
import graft.operators.Baseline.{BaselineConfig, ThresholdRule}
import graft.streaming.{Ev, StreamingBaseline}

class BaselineSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    // in-window rows for 10.0.0.0/24
    ("10.0.0.1", ts("2024-01-10 00:00:00"), 100.0),
    ("10.0.0.2", ts("2024-01-09 00:00:00"), 200.0),
    // out-of-window row (window anchors at max ts = 2024-01-10)
    ("10.0.0.3", ts("2024-01-01 00:00:00"), 9999.0),
    // row for a network not in the list -> dropped
    ("172.16.0.1", ts("2024-01-10 00:00:00"), 5.0))

  private def df = events.toDF("host", "ts", "value")

  private val cfg = BaselineConfig(
    hostCol = "host", tsCol = "ts", windowSeconds = 7L * 24 * 3600,
    aggregationFunction = "avg",
    metrics = Map("packets" -> col("value")),
    rules = Seq(
      ThresholdRule("packets", "value * 2", "threshold_pps"),
      // deactivates: avg is 150 -> 150 - 200 < 0
      ThresholdRule("packets", "value - 200", "threshold_neg")))

  test("hostgroups: window filter, network assignment, thresholds, mangling") {
    val out = Baseline.hostgroups(df, cfg, Seq(Cidr.parse("10.0.0.0/24")))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("network") == "10.0.0.0/24")
    assert(r.getAs[Long]("n_rows") == 2L) // 9999-row is outside the window
    assert(r.getAs[Long]("packets") == 150L)
    assert(r.getAs[Long]("threshold_pps") == 300L)
    assert(r.getAs[Boolean]("threshold_pps_active"))
    assert(r.isNullAt(r.fieldIndex("threshold_neg"))) // zero/neg deactivates
    assert(!r.getAs[Boolean]("threshold_neg_active"))
    assert(r.getAs[String]("hostgroup") == "10_0_0_0_24")
  }

  test("threshold tail keeps withColumn semantics for colliding names") {
    val collide = cfg.copy(rules = Seq(
      // outName is an aggregate column: replaced in place (150 -> 300)
      ThresholdRule("packets", "value * 2", "packets"),
      // a later rule reads the replaced column: 300 + 1, not 150 + 1
      ThresholdRule("packets", "value + 1", "threshold_pps"),
      // a shared outName: the last rule wins, in the first one's place
      ThresholdRule("packets", "value * 3", "threshold_pps"),
      // names match case-insensitively: n_rows is replaced AND renamed
      ThresholdRule("packets", "value - 1", "N_ROWS")))
    val out = Baseline.hostgroups(df, collide, Seq(Cidr.parse("10.0.0.0/24")))
    assert(out.columns.toSeq == Seq("network", "N_ROWS", "packets",
      "packets_active", "threshold_pps", "threshold_pps_active",
      "N_ROWS_active", "hostgroup"))
    val r = out.collect().head
    assert(r.getAs[Long]("N_ROWS") == 299L)
    assert(r.getAs[Long]("packets") == 300L)
    assert(r.getAs[Long]("threshold_pps") == 900L)
    assert(r.getAs[Boolean]("threshold_pps_active"))
    assert(r.getAs[String]("hostgroup") == "10_0_0_0_24")
  }

  /** Projects stacked between the plan root and the nearest Aggregate. */
  private def projectsAboveAggregate(plan: LogicalPlan): Int = plan match {
    case _: Aggregate => 0
    case p: Project => 1 + projectsAboveAggregate(p.child)
    case other =>
      assert(other.children.size == 1, s"no Aggregate under ${other.nodeName}")
      projectsAboveAggregate(other.children.head)
  }

  test("26-rule threshold tail is one projection over the aggregate") {
    val metrics = (0 until 26).map(i => f"m$i%02d")
    val wide = cfg.copy(
      metrics = metrics.map(_ -> col("value")).toMap,
      rules = metrics.reverse.map(m => ThresholdRule(m, "value * 2", s"threshold_$m")))
    val thresholds = wide.rules.flatMap(r => Seq(r.outName, s"${r.outName}_active"))
    val batch = Baseline.hostgroups(df, wide, Seq(Cidr.parse("10.0.0.0/24")))
    assert(projectsAboveAggregate(batch.queryExecution.analyzed) <= 1)
    assert(batch.columns.toSeq ==
      Seq("network", "n_rows") ++ metrics ++ thresholds :+ "hostgroup")

    implicit val ctx = spark.sqlContext
    val stream = StreamingBaseline.perNetwork(MemoryStream[Ev].toDF(), wide,
      prefix = 24, windowDuration = "10 minutes", slideDuration = "10 minutes",
      watermarkDelay = "5 minutes")
    assert(projectsAboveAggregate(stream.queryExecution.analyzed) <= 1)
    assert(stream.columns.toSeq ==
      Seq("window", "network", "n_rows") ++ metrics ++ thresholds)
  }

  test("empty networks produce no rows (main.go:331-334)") {
    val out = Baseline.hostgroups(df, cfg, Seq(Cidr.parse("192.168.0.0/24")))
    assert(out.count() == 0)
  }

  test("max aggregation variant (main.go:88-91)") {
    val out = Baseline.hostgroups(df, cfg.copy(aggregationFunction = "max"),
      Seq(Cidr.parse("10.0.0.0/24"))).collect().head
    assert(out.getAs[Long]("packets") == 200L)
  }

  test("IPv6 hostgroups: parse, binary range join, thresholds, mangling") {
    val e6 = Seq(
      ("2001:db8::1", ts("2024-01-10 00:00:00"), 100.0),
      ("2001:db8::2", ts("2024-01-09 00:00:00"), 200.0),
      ("2001:db9::1", ts("2024-01-10 00:00:00"), 7.0),     // other /32
      ("not-an-ip", ts("2024-01-10 00:00:00"), 9999.0))    // dropped (null)
      .toDF("host", "ts", "value")
    val out = Baseline.hostgroups6(e6, cfg,
      Seq(graft.functions.Ip6Expressions.Cidr6.parse("2001:db8::/32")))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("network") == "2001:db8::/32")
    assert(r.getAs[Long]("n_rows") == 2L)
    assert(r.getAs[Long]("packets") == 150L)
    assert(r.getAs[Long]("threshold_pps") == 300L)
    assert(r.getAs[String]("hostgroup") == "2001_db8___32")
  }

  test("unsupported aggregation rejected") {
    intercept[IllegalArgumentException] {
      Baseline.hostgroups(df, cfg.copy(aggregationFunction = "median"),
        Seq(Cidr.parse("10.0.0.0/24"))).collect()
    }
  }

  test("ewmaRate: integer half-life fold over a dense hour spine") {
    // Buckets anchor at max ts (12:15). One /24 with 4 events 1h45m
    // before the anchor (bucket ago=1 → h=1) and 6 events 5m before it
    // (ago=0 → h=2); h=0 is empty. Fold over ascending h [0, 4, 6]:
    // 0/2+0=0 → 0/2+4=4 → 4/2+6=8. A second network only at the newest
    // hour decays nothing: ewma = its count.
    val rows =
      Seq.fill(4)(("10.1.2.3", ts("2024-01-10 10:30:00"), 1.0)) ++
      Seq.fill(6)(("10.1.2.9", ts("2024-01-10 12:10:00"), 1.0)) ++
      Seq.fill(3)(("10.9.9.9", ts("2024-01-10 12:15:00"), 1.0))
    val got = Baseline.ewmaRate(rows.toDF("host", "ts", "value"),
        "host", "ts", windowHours = 3, prefix = 24)
      .orderBy("network")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("10.1.2.0", 8L, 10L), ("10.9.9.0", 3L, 3L)))
  }

  test("ewmaRate: state decays fully across an empty window tail") {
    // All events at the OLDEST hour of a 64-hour window: 63 halvings
    // drive any count to zero (integer floor division).
    val rows = Seq.fill(1000)(("10.1.2.3", ts("2024-01-01 00:00:00"), 1.0)) ++
      Seq(("10.9.9.9", ts("2024-01-03 15:00:00"), 1.0)) // anchors max ts
    val got = Baseline.ewmaRate(rows.toDF("host", "ts", "value"),
        "host", "ts", windowHours = 64, prefix = 24)
      .orderBy("network")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("10.1.2.0", 0L, 1000L), ("10.9.9.0", 1L, 1L)))
  }

  test("holtForecast matches the sequential floor recurrence, incl. negative trend") {
    // one /24, 4-hour window anchored at the newest event:
    // hourly counts ascending h = [2, 8, 14, 0] (a ramp then silence)
    val rows =
      Seq.fill(2)(("10.1.2.3", ts("2024-01-10 09:10:00"), 1.0)) ++
      Seq.fill(8)(("10.1.2.4", ts("2024-01-10 10:10:00"), 1.0)) ++
      Seq.fill(13)(("10.1.2.5", ts("2024-01-10 11:10:00"), 1.0)) ++
      Seq(("10.1.2.6", ts("2024-01-10 12:10:00"), 1.0)) // anchor; h=3 has 1
    def refFold(xs: Seq[Long]): (Long, Long) = {
      var s = xs.head; var b = 0L
      xs.tail.foreach { x =>
        val s2 = math.floor((x + s + b) / 2.0).toLong
        b = math.floor((s2 - s + b) / 2.0).toLong
        s = s2
      }
      (s, b)
    }
    val (level, trend) = refFold(Seq(2L, 8L, 13L, 1L))
    val got = Baseline.holtForecast(rows.toDF("host", "ts", "value"),
        "host", "ts", windowHours = 4, prefix = 24, horizonHours = 2)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("10.1.2.0", level, trend, level + 2 * trend, 24L)))
    // the silence after the ramp must have turned the trend negative
    assert(trend < 0, s"trend=$trend")
  }

  test("holtForecast tracks a steady ramp where level-only EWMA lags") {
    // counts 4, 8, .., 32 over 8 hours (a +4/h ramp — floor division
    // eats slopes under +2/h, which is the documented resolution of
    // the halving family): the 1-hour forecast lands closer to the
    // next value (36) than the EWMA level does
    val rows = (0 until 8).flatMap { h =>
      Seq.fill(4 * (h + 1))(("10.1.2.3",
        ts(f"2024-01-10 0$h%d:30:00"), 1.0))
    }
    val df = rows.toDF("host", "ts", "value")
    val holt = Baseline.holtForecast(df, "host", "ts",
        windowHours = 8, prefix = 24)
      .as[(String, Long, Long, Long, Long)].collect().head
    val ewma = Baseline.ewmaRate(df, "host", "ts",
        windowHours = 8, prefix = 24)
      .as[(String, Long, Long)].collect().head
    assert(holt._3 > 0, s"trend=${holt._3}")
    assert(math.abs(holt._4 - 36L) < math.abs(ewma._2 - 36L),
      s"holt forecast ${holt._4} vs ewma level ${ewma._2}")
  }

  test("incremental profile: merged slice states equal the full recompute bit-for-bit") {
    // values chosen so the avg has a non-terminating binary expansion
    // (the case where a float re-aggregation would drift)
    val rows = (1 to 30).map { i =>
      (s"10.0.${i % 3}.${i % 7}", ts("2024-01-10 00:00:00"), i * 0.1 + 1.0 / 3.0)
    }
    val all = rows.toDF("host", "ts", "value")
    val full = Baseline.profileReport(
      Baseline.profileState(all, "host", "value", 24))
      .orderBy("network").collect().toSeq
    // arbitrary 3-way split (by index mod 3)
    val slices = (0 until 3).map { k =>
      val part = rows.zipWithIndex.collect { case (r, i) if i % 3 == k => r }
        .toDF("host", "ts", "value")
      Baseline.profileState(part, "host", "value", 24)
    }
    val merged = Baseline.profileReport(Baseline.mergeProfiles(slices))
      .orderBy("network").collect().toSeq
    assert(merged == full)
    // merging with an empty state is the identity
    val empty = Baseline.profileState(
      all.filter(lit(false)), "host", "value", 24)
    val withEmpty = Baseline.profileReport(
      Baseline.mergeProfiles(slices :+ empty))
      .orderBy("network").collect().toSeq
    assert(withEmpty == full)
  }

  test("zscoreAnomaly: hand-computed moments, both flag branches") {
    // history (6 rows, net 10.0.0.0/24): values 10,10,10,10,14,14
    //   micro: sx = 68e6; sxx = (4*100 + 2*196)e12 = 792e12
    //   varNum = 6*792e12 - (68e6)^2 = 128e12 -> sigma = sqrt(128e12)/6 µ
    // current (1 row): 30.0 -> ~9.9 sigma -> anomaly
    // second net 10.0.1.0/24: flat history, current == mean -> calm
    def ev(host: String, daysAgo: Int, v: Double) =
      (host, Timestamp.valueOf(s"2024-01-0${7 - daysAgo} 12:00:00"), v)
    val rows = Seq(
      ev("10.0.0.1", 3, 10.0), ev("10.0.0.2", 3, 10.0),
      ev("10.0.0.1", 2, 10.0), ev("10.0.0.2", 2, 10.0),
      ev("10.0.0.1", 1, 14.0), ev("10.0.0.2", 1, 14.0),
      ev("10.0.0.9", 0, 30.0),
      ev("10.0.1.1", 2, 5.0), ev("10.0.1.2", 1, 5.0),
      ev("10.0.1.9", 0, 5.0))
      .toDF("host", "ts", "value")
    val out = Baseline.zscoreAnomaly(rows, "host", "value", "ts",
        windowSeconds = 6L * 86400, currentSeconds = 3600L, prefix = 24,
        kNum = 3, kDen = 1)
      .orderBy("network").collect()
    assert(out.length == 2)
    val hot = out(0)
    assert(hot.getAs[String]("network") == "10.0.0.0")
    assert(hot.getAs[Long]("n_hist") == 6L)
    assert(hot.getAs[Double]("mean_value") == 11.333333)
    assert(hot.getAs[Double]("std_value") == 1.885618)
    assert(hot.getAs[Int]("is_anomaly") == 1)
    val calm = out(1)
    assert(calm.getAs[String]("network") == "10.0.1.0")
    assert(calm.getAs[Double]("std_value") == 0.0)
    assert(calm.getAs[Int]("is_anomaly") == 0)
  }

  test("zscoreAnomaly boundary: exactly k sigma is NOT an anomaly (strict >)") {
    // history 0,0,2,2 -> mean 1, sigma = 1; current = 4 = mean + 3σ
    def ev(host: String, day: Int, v: Double) =
      (host, Timestamp.valueOf(s"2024-01-0$day 12:00:00"), v)
    val rows = Seq(
      ev("10.0.0.1", 1, 0.0), ev("10.0.0.2", 1, 0.0),
      ev("10.0.0.1", 2, 2.0), ev("10.0.0.2", 2, 2.0),
      ev("10.0.0.9", 5, 4.0))
      .toDF("host", "ts", "value")
    val out = Baseline.zscoreAnomaly(rows, "host", "value", "ts",
        windowSeconds = 6L * 86400, currentSeconds = 3600L, prefix = 24,
        kNum = 3, kDen = 1).collect().head
    assert(out.getAs[Double]("std_value") == 1.0)
    assert(out.getAs[Double]("current_avg") == 4.0)
    assert(out.getAs[Int]("is_anomaly") == 0) // 3σ exactly, strict >
    // one micro-unit past the boundary flips it
    val out2 = Baseline.zscoreAnomaly(
        rows.withColumn("value",
          when(col("host") === "10.0.0.9", 4.000001).otherwise(col("value"))),
        "host", "value", "ts", 6L * 86400, 3600L, 24, 3, 1).collect().head
    assert(out2.getAs[Int]("is_anomaly") == 1)
  }
}
