package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CountMin
import graft.operators.{AsofJoin, Funnel, IntervalJoin, Profiling}
import Shared._

/** SURVEY.md §2.2 — the general-analytics surface ClickHouse gave the
  * reference (scan/filter/agg, joins, windows, time bucketing, JSON),
  * demonstrated on the TPC-H-ish corpus. Money math is decimal-exact so
  * results are bit-identical to the DuckDB oracle (see Shared.money).
  */
object AnalyticsQueries {

  // A1: TPC-H Q1 shape — filter + wide group agg, pushdown-friendly.
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= tsLit("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        moneySum(money(col("l_extendedprice"))).as("sum_base_price"),
        moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
          .as("sum_disc_price"),
        moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount")))
          * (lit(1).cast("decimal(6,4)") + rate(col("l_tax"))))
          .as("sum_charge"),
        r4(avg(col("l_quantity"))).as("avg_qty"),
        avg4(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // A2: TPC-H Q3 shape — 3-way join, agg, deterministic top-10.
  def q3Join(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < tsLit("1998-03-15 00:00:00"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > tsLit("1998-03-15 00:00:00"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // A3: TPC-H Q5 shape — star join with broadcast dims.
  def q5Join(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region")
    val nation = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= tsLit("1996-01-01 00:00:00") &&
        col("o_orderdate") < tsLit("1998-01-01 00:00:00"))
    val li = t(s, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
        .as("revenue"))
      .orderBy("r_name", "n_name")
  }

  // A4: window functions — top 3 orders per customer, deterministic ties.
  def qTopkWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  // A42: the same top-3-per-customer result as qTopkWindow, computed
  // by the bounded-state TopKAgg instead of a per-group sort window:
  // O(k) heap per group, map-side partial aggregation, heap merges on
  // the reduce side — the hot-group-safe plan at 100 TB (a window
  // must sort EVERY row of the partition to emit 3 of them). Gated
  // against the identical oracle SQL as the window formulation, so
  // the two plans are proven interchangeable.
  def qTopkAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopK.topK(col("o_totalprice"), col("o_orderkey"), 3)
        .as("__top"))
      .select(col("o_custkey"), posexplode(col("__top")).as(Seq("__pos", "__s")))
      .select(col("o_custkey"), (col("__pos") + 1).cast("long").as("rn"),
        col("__s.id").as("o_orderkey"), col("__s.value").as("o_totalprice"))
      .orderBy("o_custkey", "rn")

  // A5: daily tumbling aggregation on events.
  def qTimeBucket(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum2(col("value")).as("sum_value"),
        avg4(col("value")).as("avg_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day", "event_type")

  // A26: cohort retention — users grouped by first-activity week,
  // counted per week-offset of later activity. One distinct + two
  // aggregations, no self-join: the cohort table is the user-level
  // aggregate joined back onto the (user, week) activity set.
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val weeks = t(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    val cohorts = weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, "user_id")
      .select(col("cohort_week"),
        expr("datediff(week, cohort_week) DIV 7").cast("long").as("week_k"))
      .groupBy(col("cohort_week"), col("week_k"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_k")
  }

  // A27: strict staged funnel — signup -> click -> purchase, each
  // stage's first occurrence strictly after the previous stage.
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    Funnel.strict(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("signup", "click", "purchase"))
      .orderBy("depth")

  // A6: gap-based sessionization (30 min) via lag + running sum.
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val e = t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    e.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        sum2(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  // A7: exact distinct aggregation.
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  // A8: exact percentiles (p50/p90/p99) of value per event_type via
  // the bucket-offset distributed rank (graft.operators.RankSelect):
  // histogram pass -> offset pass -> only the target buckets' rows are
  // ever sorted, each ~n/1024 of a group. The buffering `percentile()`
  // built-in (ObjectHashAggregate) holds every distinct group value in
  // one buffer, and the sort-window rewrite that replaced it in round
  // 5 still sorted an entire hot group in one task — this plan has
  // neither failure mode, the same device as q_vocab/q_shuffle. The
  // selected element is identical (integer rank selection,
  // rank*den >= num*n), so the oracle is unchanged. qSketchQuantile
  // stays the constant-memory companion.
  def qPercentile(s: SparkSession, dir: String): DataFrame =
    graft.operators.RankSelect.quantiles(
        t(s, dir, "events"), "event_type", "value",
        Seq(("__p50", 1L, 2L), ("__p90", 9L, 10L), ("__p99", 99L, 100L)))
      .select(col("event_type"),
        r4(col("__p50")).as("p50"),
        r4(col("__p90")).as("p90"),
        r4(col("__p99")).as("p99"))
      .orderBy("event_type")

  // A9: JSON field extraction from events.props.
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        count(when(col("k") > 50, 1)).as("n_gt50"))
      .orderBy("event_type")

  // A21: semi join — orders having at least one returned line item.
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val returned = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    t(s, dir, "orders")
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  // A22: anti join — orders with no returned line item.
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val returned = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    t(s, dir, "orders")
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  // A30: TPC-H Q13 shape — customer order-count distribution INCLUDING
  // zero-order customers: the left-outer + two-level aggregation shape
  // an inner join silently gets wrong. Scale: one custkey-keyed shuffle
  // for the outer join + first agg; the histogram re-agg is tiny
  // (distinct order counts, not customers).
  def q13Custdist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"))
      .join(t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  // A31: TPC-H Q17 shape — rows below a per-group average threshold
  // (small-quantity orders for one brand). The correlated scalar
  // subquery decorrelates into a self-agg equi-join; the brand filter
  // broadcasts as a semi join so only its lineitems shuffle. The
  // threshold predicate is integer-exact (qty*n*5 < sum instead of
  // qty < 0.2*sum/n): quantities are integral, so no float division
  // boundary can disagree between engines.
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val brandParts = t(s, dir, "part")
      .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(brandParts),
        col("l_partkey") === col("p_partkey"), "left_semi")
    val partAvg = li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("__sum_qty"), count(lit(1)).as("__n"))
    li.join(partAvg, "l_partkey")
      .filter(col("l_quantity") * col("__n") * 5 < col("__sum_qty"))
      .agg(r2(sum2(col("l_extendedprice")) / 7).as("avg_yearly"))
  }

  // A32: TPC-H Q18 shape — HAVING-filtered aggregate joined back to
  // its dimensions (orders whose total quantity clears a threshold).
  // The sum is exact (integral quantities), so the long cast and the
  // threshold agree bit-for-bit with the oracle. Scale: the HAVING
  // output is tiny relative to lineitem — AQE turns the join-back into
  // a broadcast at runtime.
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .filter(col("sum_qty") > 300)
    big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  // A33: TPC-H Q22 shape — anti join against facts plus a scalar
  // aggregate subquery (customers with above-average positive balance
  // and no urgent order). The average threshold compares in integer
  // cents (cents*n > sum_cents), never dividing, so both engines pick
  // the identical customer set. Scale: the scalar broadcasts; the
  // anti join's selective filter pushes to the fact scan and its
  // custkey shuffle is the only keyed exchange.
  def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .withColumn("__cents", round(col("c_acctbal") * 100).cast("long"))
    val posAvg = cust.filter(col("__cents") > 0)
      .agg(sum(col("__cents")).as("__s"), count(lit(1)).as("__n"))
    cust.crossJoin(broadcast(posAvg))
      .filter(col("__cents") * col("__n") > col("__s"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), sum2(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  // A34: TPC-H Q4 shape — per-priority count of orders with at least
  // one late-shipped line (shipped > 60 days after the order date; the
  // corpus has no commit/receipt dates, so lateness is ship-vs-order).
  // The EXISTS decorrelates to a left-semi join whose non-equi leg
  // rides on the orderkey equi-join — one keyed shuffle, then a tiny
  // priority histogram.
  def q4LateShip(s: SparkSession, dir: String): DataFrame = {
    val late = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    t(s, dir, "orders")
      .join(late, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // A35: TPC-H Q7 shape — bilateral shipping volume between two
  // nations by ship year. Suppliers and customers pre-filter to the
  // two nations (broadcast), so only matching lineitems survive the
  // orderkey join; the direction filter keeps the two asymmetric
  // pairs.
  def q7Volume(s: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_2")
    val supp = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(nations: _*))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(nations: _*))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // A36: TPC-H Q8 shape — one nation's market share of PROMO-part
  // revenue sold to EUROPE customers, by order year. Numerator and
  // denominator are exact conditional decimal sums; the share is a
  // SINGLE IEEE division of the two rounded doubles (then round 6), so
  // both engines compute the identical float — same discipline as
  // Shared.avg4.
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val custEu = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("c_custkey"))
    val suppN = t(s, dir, "supplier")
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val disc = money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount")))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(custEu), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(coalesce(sum(when(col("supp_nation") === "NATION_3", disc)),
          lit(0).cast("decimal(12,2)")), 2).cast("double").as("nation_revenue"),
        moneySum(disc).as("total_revenue"))
      .withColumn("mkt_share",
        round(col("nation_revenue") / col("total_revenue"), 6))
      .orderBy("o_year")
  }

  // A37: TPC-H Q10 shape — top 20 customers by revenue lost to
  // returned items in one quarter. Selective date+flag filters push to
  // both scans; the custkey aggregate output is tiny, so the
  // customer/nation join-back broadcasts under AQE.
  def q10Returned(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= tsLit("1997-07-01 00:00:00") &&
        col("o_orderdate") < tsLit("1997-10-01 00:00:00"))
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  // A38: TPC-H Q14 shape — promo-part revenue share by ship month.
  // Both sums are exact decimals; the percentage is one multiply and
  // one divide on the rounded doubles, identical on both engines.
  def q14PromoShare(s: SparkSession, dir: String): DataFrame = {
    val disc = money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount")))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"))
      .agg(
        round(coalesce(sum(when(col("p_type") === "PROMO", disc)),
          lit(0).cast("decimal(12,2)")), 2).cast("double").as("promo_revenue"),
        moneySum(disc).as("total_revenue"))
      .withColumn("promo_pct",
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 4))
      .orderBy("ship_month")
  }

  // A39: TPC-H Q15 shape — the supplier(s) achieving the quarter's
  // maximum revenue: per-supplier aggregate, scalar max broadcast back,
  // equality on the identically-rounded doubles. No window over the
  // full aggregate and no second scan of lineitem.
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= tsLit("1997-01-01 00:00:00") &&
        col("l_shipdate") < tsLit("1997-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("__mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("__mx"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  // A40: TPC-H Q19 shape — revenue under a disjunction of
  // (brand, size-range, quantity-range) clauses. The OR spans the
  // join: part-side conjuncts (brand, size) prune the broadcast build
  // side, lineitem-side bounds (quantity) push to the fact scan as
  // min/max envelope, and the residual disjunction evaluates inside
  // the codegen'd join filter.
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val clause =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 40)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 50))
    t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey") && clause)
      .agg(
        moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  // A41: TPC-H Q21 shape — suppliers solely responsible for returns on
  // multi-supplier orders. The reference query's EXISTS + NOT EXISTS
  // pair decorrelates into per-order aggregation — and the two
  // countDistincts it suggests are computed STRUCTURALLY: a first
  // groupBy on (orderkey, suppkey) collapses duplicates map-side, so
  // no Expand triplicates the fact rows (the multi-distinct plan
  // pushes 3x lineitem through its first exchange — the difference
  // between one clean shuffle and a 3x one at 100 TB), then a tiny
  // orderkey aggregate counts suppliers, returners, and the culprit.
  def q21SoleBlame(s: SparkSession, dir: String): DataFrame = {
    val perSupp = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("__ret"))
    val perOrder = perSupp
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("__n_supp"),
        sum(col("__ret")).as("__n_ret"),
        min(when(col("__ret") === 1L, col("l_suppkey"))).as("__culprit"))
      .filter(col("__n_supp") >= 2 && col("__n_ret") === 1)
    perOrder
      .join(broadcast(t(s, dir, "supplier")), col("__culprit") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Synthesized partsupp: the corpus ships no partsupp table, so the
    * four partsupp-dependent TPC-H shapes (Q2/Q11/Q16/Q20) derive one
    * DETERMINISTICALLY from part × supplier — 4 suppliers per part,
    * availqty and supply cost as pure integer functions of the keys —
    * with byte-identical arithmetic in the oracle SQL (same
    * both-engines-compute-it device as PipelineQueries.dupCorpus).
    * Supply cost stays in integer CENTS wherever a comparison happens;
    * the /100.0 display division is a single exact IEEE step. The
    * supplier stride (n/4 + 1) keeps a part's 4 suppliers distinct for
    * any supplier count whose quarter isn't ≡ -1 (mod n) — true for
    * the corpus sizes (100, 1000) and round sizes generally.
    */
  private def partsupp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(col("p_partkey"))
      .crossJoin(broadcast(
        t(s, dir, "supplier").agg(count(lit(1)).as("__n"))))
      .select(col("p_partkey"), col("__n"),
        explode(sequence(lit(0L), lit(3L))).as("__i"))
      .withColumn("ps_suppkey",
        (col("p_partkey") + col("__i") * (expr("__n DIV 4") + 1)) % col("__n"))
      .select(
        col("p_partkey").as("ps_partkey"),
        col("ps_suppkey"),
        ((col("p_partkey") * 7 + col("__i") * 3) % 9999 + 1).as("ps_availqty"),
        ((col("p_partkey") * 31 + col("ps_suppkey") * 17) % 100000)
          .as("ps_cost_cents"))

  /** The oracle's partsupp twin (see [[partsupp]]) — one CTE body both
    * the Spark plan above and DuckDB evaluate with identical integer
    * arithmetic. SQL `%` binds like `*`, so the availqty/cost
    * expressions group exactly as the Column forms do.
    */
  private val partsuppSql = {
    val sk = "(p_partkey + i * (n // 4 + 1)) % n"
    s"""SELECT p_partkey AS ps_partkey,
       |    $sk AS ps_suppkey,
       |    (p_partkey * 7 + i * 3) % 9999 + 1 AS ps_availqty,
       |    (p_partkey * 31 + ($sk) * 17) % 100000 AS ps_cost_cents
       |  FROM part,
       |    (SELECT count(*) AS n FROM supplier) s,
       |    (SELECT unnest(generate_series(0, 3)) AS i) g""".stripMargin
  }

  // A43: TPC-H Q2 shape — min-cost supplier per part within a region.
  // The correlated scalar subquery (min supplycost over the SAME
  // region-restricted partsupp) decorrelates into a per-part aggregate
  // equi-joined back onto the candidate rows; cost compares in integer
  // cents, so no float boundary can disagree between engines. Scale:
  // region suppliers broadcast; partsupp shuffles once on partkey for
  // the min; the filtered part dim broadcasts onto the tiny survivor
  // set.
  def q2MinCost(s: SparkSession, dir: String): DataFrame = {
    val eu = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val cand = partsupp(s, dir)
      .join(broadcast(eu), col("ps_suppkey") === col("s_suppkey"))
    val minCost = cand.groupBy(col("ps_partkey"))
      .agg(min(col("ps_cost_cents")).as("__min_cents"))
    val parts = t(s, dir, "part")
      .filter(col("p_size").isin(15, 25, 35) && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_name"))
    cand.join(minCost, "ps_partkey")
      .filter(col("ps_cost_cents") === col("__min_cents"))
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"),
        (col("ps_cost_cents") / 100.0).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  // A44: TPC-H Q11 shape — per-part stock value within one nation,
  // kept where the part's share clears a fraction of the TOTAL (the
  // agg-over-HAVING-fraction decorrelation). The scalar total
  // broadcasts; the share test is pure integer arithmetic
  // (value*10000 > total), never a float division.
  def q11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val natSupp = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .select(col("s_suppkey"))
    val stock = partsupp(s, dir)
      .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"), "left_semi")
      .select(col("ps_partkey"),
        (col("ps_cost_cents") * col("ps_availqty")).as("__v"))
    val total = stock.agg(sum(col("__v")).as("__t"))
    stock.groupBy(col("ps_partkey"))
      .agg(sum(col("__v")).as("val_cents"))
      .crossJoin(broadcast(total))
      .filter(col("val_cents") * 10000 > col("__t"))
      .select(col("ps_partkey"), col("val_cents"),
        (col("val_cents") / 100.0).as("value"))
      .orderBy(col("val_cents").desc, col("ps_partkey"))
  }

  // A45: TPC-H Q16 shape — supplier-count-per-part-profile with an
  // excluded brand/type and an anti join against audit-flagged
  // suppliers (negative balance stands in for the spec's complaint
  // scan). The distinct count rides the partkey-keyed join; the
  // flagged-supplier table broadcasts as an anti join.
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    val flagged = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val profiles = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    partsupp(s, dir)
      .join(broadcast(flagged), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(profiles), col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  // A46: TPC-H Q20 shape — suppliers holding excess stock of a part
  // family: the nested semi-join chain (supplier ← partsupp ← part
  // filter + per-(part,supplier) shipped-quantity threshold). The
  // correlated `0.5 * sum(l_quantity)` subquery decorrelates into one
  // lineitem aggregate equi-joined on BOTH keys; the threshold is
  // integer-exact (2*availqty > sum_qty — quantities are integral).
  def q20ExcessParts(s: SparkSession, dir: String): DataFrame = {
    val qty = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= tsLit("1997-01-01 00:00:00") &&
        col("l_shipdate") < tsLit("1998-01-01 00:00:00"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("__sq"))
    val redParts = t(s, dir, "part")
      .filter(col("p_name").contains("red")).select(col("p_partkey"))
    val excess = partsupp(s, dir)
      .join(broadcast(redParts), col("ps_partkey") === col("p_partkey"), "left_semi")
      .join(qty, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2 > col("__sq"))
      .select(col("ps_suppkey"))
    t(s, dir, "supplier")
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  // A47: TPC-H Q6 shape — the forecast-revenue query, the purest
  // pushdown showcase in the suite: every predicate (date range,
  // discount band, quantity cap) reaches the parquet scan as
  // PushedFilters, the scan reads only the four referenced columns,
  // and the plan is scan -> partial agg -> one single-row exchange.
  // revenue is the exact decimal product sum (price x discount RATE —
  // Q6 multiplies by the discount itself, not 1-discount).
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= tsLit("1997-01-01 00:00:00") &&
        col("l_shipdate") < tsLit("1998-01-01 00:00:00") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        moneySum(money(col("l_extendedprice")) * rate(col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))

  // A48: TPC-H Q12 shape — shipmode service-level counts. The corpus
  // lineitem carries no shipmode/commitdate/receiptdate, so all three
  // are synthesized DETERMINISTICALLY from (l_orderkey, l_linenumber)
  // — the same both-engines-compute-it device as partsupp (A43-A46):
  // mode = 7-way key hash, commit/receipt = closed-form day offsets
  // from shipdate, so the oracle CTE reproduces them byte-identically.
  // The late-commit filters are pure integer comparisons on the
  // offsets (ship < commit <=> c > 0; commit < receipt <=> c < r); only
  // the receipt-year bound touches a calendar. One orderkey-shuffle
  // join, then a two-row conditional-count aggregate.
  def q12Shipmode(s: SparkSession, dir: String): DataFrame = {
    val modes = Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
    val l = t(s, dir, "lineitem")
      .withColumn("l_shipmode",
        element_at(array(modes.map(lit): _*),
          pmod(col("l_orderkey") * 5 + col("l_linenumber"), lit(7)).cast("int") + 1))
      .withColumn("__c", pmod(col("l_orderkey") + col("l_linenumber") * 11, lit(45)) - 15)
      .withColumn("__r", pmod(col("l_orderkey") * 3 + col("l_linenumber"), lit(30)) + 1)
      .withColumn("__receipt", expr("timestampadd(DAY, __r, l_shipdate)"))
      .filter(col("l_shipmode").isin("MAIL", "SHIP") &&
        col("__c") > 0 && col("__c") < col("__r") &&
        col("__receipt") >= tsLit("1997-01-01 00:00:00") &&
        col("__receipt") < tsLit("1998-01-01 00:00:00"))
      .select(col("l_orderkey"), col("l_shipmode"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_shipmode"))
      .agg(
        sum(when(high, 1).otherwise(0)).cast("long").as("high_line_count"),
        sum(when(high, 0).otherwise(1)).cast("long").as("low_line_count"))
      .orderBy("l_shipmode")
  }

  // A19: window-function suite — rank family, offsets, running and
  // frame aggregates in one pass per partition.
  def qWindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .filter(col("user_id") < 10)
      .select(col("event_type"), col("event_id"), r2(col("value")).as("value"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        r2(lag(col("value"), 1).over(w)).as("prev_value"),
        r2(lead(col("value"), 1).over(w)).as("next_value"),
        r2(sum(col("value")).over(wRun)).as("running_sum"),
        r2(min(col("value")).over(wRun)).as("running_min"))
      .orderBy("event_type", "rnk", "event_id")
  }

  // A26: event-time moving aggregate — trailing 1-hour count/sum per
  // user evaluated at every event, via a RANGE frame over epoch
  // micros (the ClickHouse moving-aggregate shape; ROWS frames can't
  // express "last hour"). The windowed sum is decimal-exact so tied
  // timestamps can't reorder a double sum.
  def qMovingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    t(s, dir, "events")
      .filter(col("user_id") < 50)
      .withColumn("us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"), col("us"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value").cast("decimal(28,10)")).over(w), 2)
          .cast("double").as("sum_1h"))
      .orderBy("user_id", "us", "event_id")
  }

  // A20: date-spine gap filling (ClickHouse WITH FILL analog) — every
  // (day, user) slot over the observed range, zeros where silent.
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id") < 20)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    val daily = e.groupBy("day", "user_id")
      .agg(count(lit(1)).as("n"), sum2(col("value")).as("sum_value"))
    val spine = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .crossJoin(e.select(col("user_id")).distinct())
    spine.join(daily, Seq("day", "user_id"), "left")
      .select(col("day"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("day", "user_id")
  }

  // A52: forward-fill (LOCF) over the gap-filled spine — the
  // time-series resampling step after gap fill: missing days carry
  // the last observed per-key value forward (null before the first
  // observation on both engines). One keyed ordered window; the
  // filled value is the exact decimal daily sum, so no float drifts.
  def qFillForward(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").filter(col("user_id") < 20)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    val daily = e.groupBy("day", "user_id")
      .agg(sum2(col("value")).as("sum_value"))
    val spine = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .crossJoin(e.select(col("user_id")).distinct())
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("day", "user_id"), "left")
      .select(col("day"), col("user_id"),
        col("sum_value").isNotNull.as("observed"),
        last(col("sum_value"), ignoreNulls = true).over(w).as("filled_value"))
      .orderBy("day", "user_id")
  }

  // A16: hierarchical rollup (subtotals + grand total in one pass).
  def qRollup(s: SparkSession, dir: String): DataFrame =
    // r17 opt: expand over the 12-row partial table, not the corpus —
    // see flagStatusPartials (exact regrouping, schema unchanged:
    // this query never emitted sum_price)
    flagStatusPartials(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("__n")).as("n"),
        sum(col("__qty")).cast("long").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  // A24: TPC-H Q9 shape — multi-fact star join (lineitem⋈orders plus
  // three broadcast dims), profit rollup by nation and year.
  def qProfitNation(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part").filter(col("p_name").contains("red"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        moneySum(money(col("l_extendedprice")) * (lit(1).cast("decimal(6,4)") - rate(col("l_discount"))))
          .as("sum_profit"),
        count(lit(1)).as("n_lines"))
      .orderBy("nation", "o_year")
  }

  // A25: cube — the full grouping-set lattice in one pass (rollup's
  // superset: per-flag, per-status, both, and the grand total).
  /** r17 opt (guide §2.3, aggregate before you shuffle — applied to
    * the EXPAND): cube/rollup/grouping-sets over (flag, status) used
    * to expand the whole fact table (4x/3x the scan rows through the
    * partial aggregate, with the decimal money arithmetic multiplied
    * with them). Aggregating per FULL key first is an exact
    * regrouping: counts add, l_quantity sums are integral doubles
    * (exactly representable, associative), and decimal sums are
    * associative — so every grouping-set row is bit-identical while
    * the expand runs over the ~12-row partial table instead of the
    * corpus. The oracles are unchanged.
    */
  private def flagStatusPartials(s: SparkSession, dir: String): DataFrame = {
    val qty = col("l_quantity")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("__n"),
        // long partial sums (ADVICE r17): the regrouping's exactness no
        // longer rests on the data invariant "quantities are integral
        // doubles summing under 2^53" — the per-row cast is exact for
        // integral quantities (the generator's contract, checked by the
        // oracle's own long cast) and long sums reassociate exactly at
        // any scale. A fractional quantity breaks that contract: the
        // cast would truncate it silently, so it raises instead.
        sum(when(qty =!= floor(qty), raise_error(concat(
            lit("flagStatusPartials: non-integral l_quantity "), qty.cast("string"))))
          .otherwise(qty.cast("long"))).as("__qty"),
        sum(money(col("l_extendedprice"))).as("__price"))
  }

  private def flagStatusReAgg(
      g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    g.agg(sum(col("__n")).as("n"),
        sum(col("__qty")).cast("long").as("sum_qty"),
        round(sum(col("__price")), 2).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  def qCube(s: SparkSession, dir: String): DataFrame =
    flagStatusReAgg(flagStatusPartials(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus")))

  // A28: explicit GROUPING SETS — the general form behind
  // rollup/cube: an arbitrary set of grouping combinations computed in
  // one pass over the fact table (here: by flag, by status, and the
  // grand total — NOT the full cube).
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    flagStatusReAgg(flagStatusPartials(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus")))

  // A17: pivot — event types to columns, one shuffle.
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum2(col("value")))
      .orderBy("day")

  // A18: set operations — (user, day) pairs with a click but no
  // purchase that day.
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    val clicked = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("day")).distinct()
    val bought = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("day")).distinct()
    clicked.except(bought).orderBy("user_id", "day")
  }

  // A18b: the remaining set-op legs (EXCEPT is q_setops): INTERSECT
  // for users who clicked AND purchased the same day, UNION ALL with
  // a tagged signup arm — tags keep the two arms distinguishable so
  // the union's row semantics are fully pinned.
  def qSetOpsFull(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
    def daySet(ty: String) = e.filter(col("event_type") === ty)
      .select(col("user_id"), col("day")).distinct()
    daySet("click").intersect(daySet("purchase"))
      .withColumn("src", lit("both"))
      .union(daySet("signup").withColumn("src", lit("signup")))
      .orderBy("user_id", "day", "src")
  }

  // A13: as-of join — latest order at or before each event, per user.
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
    val ord = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    AsofJoin.leftAsof(ev, ord,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTs = "ts", rightTs = "o_orderdate",
        rightTieBreak = "o_orderkey")
      .select("event_id", "user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("event_id")
  }

  // A10 (rows-only): sketch aggregations — HLL++ approximate distinct
  // next to the exact count (the 100 TB path: constant memory per
  // group vs. the exact distinct's shuffle of every key). The two
  // aggregations run SEPARATELY and join on the tiny result: fused in
  // one agg, the exact countDistinct's (group, user) pre-aggregation
  // drags the rsd=0.01 HLL buffer (1639 longs) through the shuffle
  // once per distinct pair — measured ~5x this plan's cost.
  // The gated projection carries the exact count plus a BANDED
  // SELF-CHECK boolean (sketch within 5% of exact — 5x the rsd=0.01
  // expected error), so the oracle CAN check the row exactly: it
  // recomputes the exact count and asserts the band literally TRUE.
  // The sketch's raw value stays ScalaTest-gated (SketchSpec) — its
  // bit pattern is implementation-defined, its error bound is not.
  def qSketchDistinct(s: SparkSession, dir: String): DataFrame = {
    // NOT withScanParallelism — same distinct-aggregate scatter
    // finding as qHoppingDistinct (measured regression)
    val e = t(s, dir, "events")
    val approx = e.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    approx.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(1L), round(col("exact_users") * 0.05)))
          .as("approx_ok"))
      .orderBy("event_type")
  }

  // A11: quantile sketch (GK/KLL-style) with sketch state bounded by
  // accuracy, not group size. Same banded-self-check device as A10:
  // the gated row is (exact count, band boolean) — the sketch's p50/
  // p99 must land inside the exact ±0.005-rank percentile band (5x
  // the accuracy=1000 GK rank-error guarantee of 0.001). The band
  // comparison runs entirely Spark-side against Spark's OWN exact
  // percentiles, so no cross-engine interpolation float can flip it;
  // the oracle asserts the boolean literally TRUE plus the exact
  // group count. Raw sketch values stay in SketchSpec.
  def qSketchQuantile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, array(0.5, 0.99), 1000)").as("ap"),
        expr("percentile(value, array(0.495, 0.505, 0.985, 0.995))").as("band"),
        count(lit(1)).as("n_rows"))
      .select(col("event_type"), col("n_rows"),
        (col("ap")(0) >= col("band")(0) && col("ap")(0) <= col("band")(1) &&
          col("ap")(1) >= col("band")(2) && col("ap")(1) <= col("band")(3))
          .as("approx_ok"))
      .orderBy("event_type")

  // A53: count-min sketch frequency estimates — same banded-self-check
  // device as A10/A11: the CMS point estimate for every event type
  // must sit in [exact, exact + 3 * total / width] (the one-sided CMS
  // overcount guarantee with slack over the sketch's 2/width bound;
  // the lower bound is structural — CMS never undercounts). Sketch shape
  // checks stay in CountMinSpec; one depth x width Spark count-min
  // sketch aggregates the whole scan (mergeable, map-side combined),
  // estimates read the broadcast result.
  def qSketchCms(s: SparkSession, dir: String): DataFrame = {
    val depth = 5
    val width = 1024
    val e = t(s, dir, "events")
    val sk = e.agg(CountMin.sketch(col("event_type"), depth, width).as("sk"))
    val est = CountMin.estimate(col("sk"), col("event_type"))
    e.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      .withColumn("__total", sum(col("exact_n")).over(Window.partitionBy()))
      .crossJoin(broadcast(sk))
      .select(col("event_type"), col("exact_n"),
        (est >= col("exact_n") &&
          est <= col("exact_n") + ceil(col("__total") * 3.0 / width).cast("long"))
          .as("cms_ok"))
      .orderBy("event_type")
  }

  // A23: interval join — purchases within an hour of a click, per
  // user, via the bucketized window equi-join (never a per-key
  // cartesian product).
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    IntervalJoin.forwardWindow(clicks, buys, "user_id",
        "click_ts", "buy_ts", 3600000000L)
      .select("user_id", "click_id", "buy_id", "delta_us")
      .orderBy("click_id", "buy_id")
  }

  // A49: per-key cardinality histogram — the skew audit that decides
  // salt-or-not before a big join. Log2 buckets via integer bit-length
  // (no float log); one keyed agg + one tiny agg.
  def qKeySkew(s: SparkSession, dir: String): DataFrame =
    Profiling.keySkew(t(s, dir, "events"), "user_id")
      .orderBy("bucket")

  // A50: per-group equi-width value histogram — the distribution
  // snapshot behind range boundaries and outlier cuts; bin arithmetic
  // mirrored op-for-op in the oracle (Profiling.histogramBinSql).
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    Profiling.histogram(t(s, dir, "events"), "event_type", "value", 10)
      .orderBy("event_type", "bin")

  // A51: per-column completeness profile (exact null/distinct counts)
  // — the audit pass before trusting a column as a join/dedup key.
  def qColProfile(s: SparkSession, dir: String): DataFrame =
    Profiling.columnProfile(t(s, dir, "events"),
        Seq("event_id", "user_id", "event_type", "ts", "value"))
      .orderBy("col_name")

  /** A54 gate param: 6-hour lookback — at the corpus's per-user event
    * rate (~11 h median gap) roughly half the conversions have a touch
    * in window, so both the attributed and the 'direct' arms are
    * exercised.
    */
  val AttributionLookbackSeconds = 21600L

  // A54: first/last-touch conversion attribution with a lookback
  // window — purchase credits the nearest preceding click/view/signup.
  def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.touchAttribution(t(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", "purchase",
        Seq("click", "view", "signup"), AttributionLookbackSeconds)
      .orderBy("conv_event_id")

  // A55: session path analysis — which event-type trigrams actually
  // occur inside 30-minute sessions, per occurrence and per session.
  def qPathAnalysis(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.pathTrigrams(t(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", gapSeconds = 1800L)
      .orderBy("path")

  // A56: running distinct users per day — cumulative reach as
  // first-seen-day counts + one cumulative sum over the DAYS table
  // (the only unpartitioned window runs on ~span-days rows, the same
  // bounded-table device as the shuffle-rank offsets).
  def qRunningDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  // A57: rank-movement trending — per-day event-type leaderboard with
  // the previous day's rank and the movement delta; deterministic rank
  // via (count DESC, type) and a day+1 self-join (no cross-day window
  // over an unbounded frame).
  def qTrending(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = t(s, dir, "events")
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("n_events").desc, col("event_type"))
    val ranked = counts.withColumn("rnk", row_number().over(w))
    ranked.join(
        ranked.select(date_add(col("day"), 1).as("day"), col("event_type"),
          col("rnk").as("prev_rnk")),
        Seq("day", "event_type"), "left")
      .withColumn("rank_delta", col("prev_rnk") - col("rnk"))
      .orderBy("day", "rnk")
  }

  // A59: pair support + lift within 30-minute sessions.
  def qBasket(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.basketPairs(t(s, dir, "events"),
        "user_id", "ts", "event_type", "event_id", gapSeconds = 1800L)
      .orderBy("type_a", "type_b")

  // A61: fixed-point PageRank over the bipartite customer<->part
  // purchase graph (both orientations — every node has out-degree).
  // Node encoding: customer key*2, part key*2+1.
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "orders").join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    // r17 opt: both orientations come from ONE pass over e0 (explode
    // of a 2-struct array) instead of a self-union whose two legs each
    // embed the join+distinct subplan — same rows, half the plan, no
    // reliance on exchange reuse
    val edges = e0.select(explode(array(
        struct((col("c") * 2).as("src"), (col("p") * 2 + 1).as("dst")),
        struct((col("p") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    graft.operators.Graph.pageRank(edges, iters = 3)
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("part")).as("kind"),
        expr("node div 2").as("key"), col("deg"), col("rank_fp"),
        // NO round: long/1e9 is one correctly-rounded IEEE division of
        // identical operands in both engines — a round(x, 6) on top
        // hit a halfway case at sf0.1 where DuckDB's scaled-multiply
        // rounding and Java's exact-binary BigDecimal disagree by 1
        (col("rank_fp") / 1000000000.0).as("rank"))
      .orderBy(col("rank_fp").desc, col("kind"), col("key"))
  }

  // A66: exact triangle counts over the part co-purchase graph
  // (parts sharing an urgent-priority order — the priority filter
  // keeps the gate graph's density representative without the full
  // graph's 1.9M-triangle oracle cost).
  private def urgentCoPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").join(
        t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val a = li.select(col("o"), col("p").as("src"))
    val b = li.select(col("o").as("o2"), col("p").as("dst"))
    a.join(b, col("o") === col("o2") && col("src") < col("dst"))
      .select("src", "dst")
  }

  def qTriangles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangles(urgentCoPurchaseEdges(s, dir))
      .orderBy("node")

  // A70: local clustering coefficient over the same co-purchase graph
  // — the triad closure rate per part (2·tri / deg·(deg−1), NULL for
  // degree-1 nodes that center no wedge).
  def qClusteringCoef(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.clusteringCoefficient(urgentCoPurchaseEdges(s, dir))
      .orderBy("node")

  // A67: lag 1..6 autocorrelation of each event type's hourly
  // value-sum series (values on the integer-micro ladder — floor, not
  // round: round's half-away ties are engine-ambiguous, floor is not).
  def qAcf(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type").as("key"),
        expr("unix_micros(ts) div 3600000000").as("t"))
      .agg(sum(floor(col("value") * 1000000).cast("long")).as("x"))
    graft.operators.Autocorr.acf(hourly, "key", "t", "x", lags = 1 to 6)
      .orderBy("key", "lag")
  }

  // A68: winsorized robust stats of each event type's value
  // distribution (integer-micro ladder, discrete p05/p95 band).
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_type").as("key"),
        floor(col("value") * 1000000).cast("long").as("v"))
    graft.operators.Winsorize.stats(ev, "key", "v",
        pLoPermille = 50, pHiPermille = 950)
      .orderBy("key")
  }

  // A69: cross-correlation of view-vs-purchase hourly series per
  // user-id cohort, lags -6..6 (negative = purchases lead views).
  def qCcf(s: SparkSession, dir: String): DataFrame = {
    def hourly(ty: String) = t(s, dir, "events")
      .filter(col("event_type") === ty)
      .groupBy((col("user_id") % 4).as("key"),
        expr("unix_micros(ts) div 3600000000").as("t"))
      .agg(sum(floor(col("value") * 1000000).cast("long")).as("v"))
    graft.operators.Autocorr.ccf(hourly("view"), hourly("purchase"),
        "key", "t", "v", lags = -6 to 6)
      .orderBy("key", "lag")
  }

  // A64: changelog application over documents — updates (v1), deletes
  // (v2, overriding the %77 update overlap), inserts (new ids).
  def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val snap = t(s, dir, "documents")
    val updates = snap.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" [v2]")))
      .withColumn("version", lit(1L)).withColumn("op", lit("upsert"))
    val deletes = snap.filter(col("doc_id") % 11 === 0)
      .withColumn("version", lit(2L)).withColumn("op", lit("delete"))
    val inserts = snap.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("version", lit(1L)).withColumn("op", lit("upsert"))
    graft.operators.Cdc.applyChangelog(snap,
        updates.unionByName(deletes).unionByName(inserts),
        "doc_id", "version", "op")
      .orderBy("doc_id")
  }

  // A65: SCD2 validity intervals of each user's event-type state.
  def qScd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cdc.scd2(
        t(s, dir, "events").select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", Seq("event_type"))
      .orderBy("user_id", "valid_from")

  // A63: HLL distinct users per hopping window — the A10 sketch under
  // the A60 window generator (sliding reach, the metric a tumbling
  // distinct understates at window boundaries). Banded self-check:
  // the exact arm exists for the gate; at scale the sketch IS the
  // operator (mergeable, bounded state — the streaming-compatible
  // distinct).
  def qHoppingDistinct(s: SparkSession, dir: String): DataFrame = {
    // NOT withScanParallelism (r17 opt note): a round-robin before a
    // distinct aggregate SCATTERS duplicate (window, user) rows across
    // tasks, so the partial-distinct phase stops deduplicating and the
    // exchange grows — measured 2.1 -> 4.6 s. The single-task scan's
    // partial agg is the cheaper plan for distinct aggregates.
    val e = t(s, dir, "events")
    val w = window(col("ts"), "3600 seconds", "900 seconds")
    // the two arms aggregate SEPARATELY (the A10 shape): one groupBy
    // carrying BOTH a distinct aggregate and the HLL imperative
    // aggregate plans the combined expand/sort path — measured 19.8 s
    // vs 0.6 + 1.1 s for the split arms at sf0.1
    val approx = e.groupBy(w.as("w"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("approx_users"))
    val exact = e.groupBy(w.as("w"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("exact_users"))
    approx.join(exact, Seq("ws", "we"))
      .select(col("ws"), col("we"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(1L), round(col("exact_users") * 0.05)))
          .as("approx_ok"))
      .orderBy("ws")
  }

  // A62: 15-minute grid, linear interpolation per event type.
  def qInterpolate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.interpolate(t(s, dir, "events"),
        "event_type", "ts", "value", stepSeconds = 900L)
      .orderBy("key", "ts")

  // A60: 1-hour windows hopping every 15 minutes over events — each
  // event covers exactly 4 window positions (size/slide).
  def qHoppingWindow(s: SparkSession, dir: String): DataFrame =
    graft.operators.Hopping.hopAgg(t(s, dir, "events"), "ts", "event_type",
        "value", sizeSeconds = 3600L, slideSeconds = 900L)
      .orderBy("ws", "event_type")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hopping_window" -> qHoppingWindow,
    "q_hopping_distinct" -> qHoppingDistinct,
    "q_cdc_apply" -> qCdcApply,
    "q_scd2" -> qScd2,
    "q_interpolate" -> qInterpolate,
    "q_key_skew" -> qKeySkew,
    "q_attribution" -> qAttribution,
    "q_path_analysis" -> qPathAnalysis,
    "q_running_distinct" -> qRunningDistinct,
    "q_trending" -> qTrending,
    "q_basket" -> qBasket,
    "q_pagerank" -> qPagerank,
    "q_triangles" -> qTriangles,
    "q_clustering_coef" -> qClusteringCoef,
    "q_acf" -> qAcf,
    "q_winsorize" -> qWinsorize,
    "q_ccf" -> qCcf,
    "q_histogram" -> qHistogram,
    "q_col_profile" -> qColProfile,
    "q_retention" -> qRetention,
    "q_funnel" -> qFunnel,
    "q_interval_join" -> qIntervalJoin,
    "q_asof_join" -> qAsofJoin,
    "q_rollup" -> qRollup,
    "q_window_suite" -> qWindowSuite,
    "q_semi_join" -> qSemiJoin,
    "q_anti_join" -> qAntiJoin,
    "q_gap_fill" -> qGapFill,
    "q_fill_forward" -> qFillForward,
    "q_pivot" -> qPivot,
    "q_setops" -> qSetOps,
    "q_setops_full" -> qSetOpsFull,
    "q_sketch_distinct" -> qSketchDistinct,
    "q_sketch_quantile" -> qSketchQuantile,
    "q_sketch_cms" -> qSketchCms,
    "q1_agg" -> q1Agg,
    "q3_join" -> q3Join,
    "q5_join" -> q5Join,
    "q_profit_nation" -> qProfitNation,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_moving_window" -> qMovingWindow,
    "q_topk_window" -> qTopkWindow,
    "q_topk_agg" -> qTopkAgg,
    "q_time_bucket" -> qTimeBucket,
    "q_sessionize" -> qSessionize,
    "q_distinct" -> qDistinct,
    "q_percentile" -> qPercentile,
    "q_json_extract" -> qJsonExtract,
    "q13_custdist" -> q13Custdist,
    "q17_small_qty" -> q17SmallQty,
    "q18_large_orders" -> q18LargeOrders,
    "q22_idle_balance" -> q22IdleBalance,
    "q4_late_ship" -> q4LateShip,
    "q7_volume" -> q7Volume,
    "q8_mkt_share" -> q8MarketShare,
    "q10_returned" -> q10Returned,
    "q14_promo" -> q14PromoShare,
    "q15_top_supplier" -> q15TopSupplier,
    "q19_disjunctive" -> q19Disjunctive,
    "q21_sole_blame" -> q21SoleBlame,
    "q2_min_cost" -> q2MinCost,
    "q11_important_stock" -> q11ImportantStock,
    "q16_supplier_cnt" -> q16SupplierCnt,
    "q20_excess_parts" -> q20ExcessParts,
    "q6_forecast" -> q6Forecast,
    "q12_shipmode" -> q12Shipmode)

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))"

  val oracleSql: Map[String, String] = Map(
    // A64: latest-version-wins merge, window form (the Spark side is
    // one max_by aggregation — same winner by the unique-version
    // contract).
    "q_cdc_apply" ->
      """WITH snap AS (SELECT doc_id, text, lang, source, n_chars,
        |    CAST(0 AS BIGINT) AS version, 'upsert' AS op FROM documents),
        |upd AS (SELECT doc_id, text || ' [v2]' AS text, lang, source,
        |    n_chars, CAST(1 AS BIGINT), 'upsert' FROM documents
        |  WHERE doc_id % 7 = 0),
        |del AS (SELECT doc_id, text, lang, source, n_chars,
        |    CAST(2 AS BIGINT), 'delete' FROM documents
        |  WHERE doc_id % 11 = 0),
        |ins AS (SELECT doc_id + 1000000, text, lang, source, n_chars,
        |    CAST(1 AS BIGINT), 'upsert' FROM documents
        |  WHERE doc_id % 13 = 0),
        |u AS (SELECT * FROM snap UNION ALL SELECT * FROM upd
        |      UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY version DESC) AS rk FROM u)
        |SELECT doc_id, version, text, lang, source, n_chars
        |FROM r WHERE rk = 1 AND op <> 'delete' ORDER BY doc_id""".stripMargin,
    // A65: change-collapse + lead interval close; first row survives
    // via the IS NULL arm (event_type is never NULL in the corpus, so
    // plain <> matches the null-safe struct compare).
    "q_scd2" ->
      """WITH x AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM x
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to,
        |  CASE WHEN lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM c ORDER BY user_id, valid_from""".stripMargin,
    // A63: exact sliding distinct via the same 4-start expansion; the
    // sketch band asserts literally TRUE (the A10 device).
    "q_hopping_distinct" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
        |w AS (SELECT
        |    make_timestamp((us // 900000000 - k) * 900000000) AS ws,
        |    make_timestamp((us // 900000000 - k) * 900000000
        |      + 3600000000) AS we, user_id
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) ks)
        |SELECT ws, we, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok
        |FROM w GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // A60: every event expands to its 4 covering epoch-aligned window
    // starts (k = 0..3 slides back); the count is integer and the
    // value sum runs the shared decimal-exact device.
    "q_hopping_window" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
         |w AS (SELECT
         |    make_timestamp((us // 900000000 - k) * 900000000) AS ws,
         |    make_timestamp((us // 900000000 - k) * 900000000
         |      + 3600000000) AS we,
         |    event_type, value
         |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) ks)
         |SELECT ws, we, event_type, count(*) AS n,
         |  ${sum2Sql("value")} AS sum_value
         |FROM w GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,
    // A62: identical weighted-average integer interpolation — every
    // term non-negative so trunc-div == floor-div; products in HUGEINT
    // (the Spark side uses decimal(38,0)); the obs/grid tie orders
    // make a coincident tick see the observation on BOTH sides.
    "q_interpolate" ->
      """WITH obs AS (SELECT event_type AS key, epoch_us(ts) AS us,
        |    min(CAST(round(value * 1000000) AS BIGINT)) AS vm
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT key, (min(us) + 899999999) // 900000000 AS t0,
        |    max(us) // 900000000 AS t1 FROM obs GROUP BY 1),
        |grid AS (SELECT key,
        |    unnest(generate_series(t0, t1)) * 900000000 AS us
        |  FROM b WHERE t0 <= t1),
        |u AS (SELECT key, us, vm, 0 AS is_grid FROM obs
        |      UNION ALL SELECT key, us, NULL, 1 FROM grid),
        |w AS (SELECT key, us, is_grid,
        |    last_value(vm IGNORE NULLS) OVER
        |      (PARTITION BY key ORDER BY us, is_grid
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pvm,
        |    last_value(CASE WHEN vm IS NOT NULL THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY key ORDER BY us, is_grid
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pus,
        |    first_value(vm IGNORE NULLS) OVER
        |      (PARTITION BY key ORDER BY us, is_grid DESC
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nvm,
        |    first_value(CASE WHEN vm IS NOT NULL THEN us END IGNORE NULLS)
        |      OVER (PARTITION BY key ORDER BY us, is_grid DESC
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nus
        |  FROM u),
        |i AS (SELECT key, us,
        |    CASE WHEN nus = pus THEN pvm
        |      ELSE CAST((CAST(pvm AS HUGEINT) * (nus - us)
        |        + CAST(nvm AS HUGEINT) * (us - pus))
        |        // (nus - pus) AS BIGINT) END AS interp_micros
        |  FROM w WHERE is_grid = 1)
        |SELECT key, make_timestamp(us) AS ts, interp_micros,
        |  round(interp_micros / 1000000.0, 6) AS value
        |FROM i ORDER BY key, us""".stripMargin,
    // A61: the identical fixed-point recurrence, 3 iterations unrolled
    // — integer `//` + long sums make the result order-independent, so
    // both engines agree bit-for-bit (the float recurrence would not).
    "q_pagerank" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT c*2 AS src, p*2+1 AS dst FROM e0
        |          UNION ALL SELECT p*2+1, c*2 FROM e0),
        |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT node, deg, CAST(1000000000 AS BIGINT) AS r FROM deg),
        |i1 AS (SELECT e.dst AS node, CAST(sum(r.r // r.deg) AS BIGINT) AS f
        |       FROM edges e JOIN r0 r ON e.src = r.node GROUP BY 1),
        |r1 AS (SELECT d.node, d.deg, CAST(150000000
        |         + (85 * coalesce(i.f, 0)) // 100 AS BIGINT) AS r
        |       FROM deg d LEFT JOIN i1 i ON d.node = i.node),
        |i2 AS (SELECT e.dst AS node, CAST(sum(r.r // r.deg) AS BIGINT) AS f
        |       FROM edges e JOIN r1 r ON e.src = r.node GROUP BY 1),
        |r2 AS (SELECT d.node, d.deg, CAST(150000000
        |         + (85 * coalesce(i.f, 0)) // 100 AS BIGINT) AS r
        |       FROM deg d LEFT JOIN i2 i ON d.node = i.node),
        |i3 AS (SELECT e.dst AS node, CAST(sum(r.r // r.deg) AS BIGINT) AS f
        |       FROM edges e JOIN r2 r ON e.src = r.node GROUP BY 1),
        |r3 AS (SELECT d.node, d.deg, CAST(150000000
        |         + (85 * coalesce(i.f, 0)) // 100 AS BIGINT) AS r
        |       FROM deg d LEFT JOIN i3 i ON d.node = i.node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END AS kind,
        |  node // 2 AS key, deg, r AS rank_fp,
        |  CAST(r AS DOUBLE) / 1000000000.0 AS rank
        |FROM r3 ORDER BY rank_fp DESC, kind, key""".stripMargin,
    // A66: the identical degree-ordered orientation + wedge closure,
    // re-derived in SQL. Orientation by the (deg, id) pair directly
    // (no global row_number rank — nothing funnels through one
    // partition on either engine), closure as a pure equi-join on
    // both endpoints (an OR-of-directions probe would nested-loop).
    "q_triangles" ->
      """WITH li AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |       FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |       WHERE ord.o_orderpriority = '1-URGENT'),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |ori AS (SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
        |            THEN e.u ELSE e.v END AS s,
        |          CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
        |            THEN e.v ELSE e.u END AS t,
        |          CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
        |            THEN dv.deg ELSE du.deg END AS tdeg
        |        FROM e JOIN deg du ON e.u = du.node
        |               JOIN deg dv ON e.v = dv.node),
        |w AS (SELECT d1.s AS a, d1.t AS b, d2.t AS c
        |      FROM ori d1 JOIN ori d2 ON d1.s = d2.s
        |        AND ((d1.tdeg, d1.t) < (d2.tdeg, d2.t))),
        |tri AS (SELECT a, b, c
        |        FROM w JOIN ori d ON w.b = d.s AND w.c = d.t),
        |pn AS (SELECT node, count(*) AS n_tri FROM (
        |         SELECT a AS node FROM tri UNION ALL
        |         SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |       GROUP BY 1)
        |SELECT deg.node, deg.deg, coalesce(pn.n_tri, 0) AS n_tri
        |FROM deg LEFT JOIN pn USING (node)
        |ORDER BY node""".stripMargin,
    // A70: the identical triangle pipeline, one projection on top —
    // both division operands are exact integers, so the lone IEEE
    // divide is bit-deterministic across engines.
    "q_clustering_coef" ->
      """WITH li AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
        |       FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |       WHERE ord.o_orderpriority = '1-URGENT'),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |ori AS (SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
        |            THEN e.u ELSE e.v END AS s,
        |          CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
        |            THEN e.v ELSE e.u END AS t,
        |          CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
        |            THEN dv.deg ELSE du.deg END AS tdeg
        |        FROM e JOIN deg du ON e.u = du.node
        |               JOIN deg dv ON e.v = dv.node),
        |w AS (SELECT d1.s AS a, d1.t AS b, d2.t AS c
        |      FROM ori d1 JOIN ori d2 ON d1.s = d2.s
        |        AND ((d1.tdeg, d1.t) < (d2.tdeg, d2.t))),
        |tri AS (SELECT a, b, c
        |        FROM w JOIN ori d ON w.b = d.s AND w.c = d.t),
        |pn AS (SELECT node, count(*) AS n_tri FROM (
        |         SELECT a AS node FROM tri UNION ALL
        |         SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |       GROUP BY 1)
        |SELECT deg.node, deg.deg, coalesce(pn.n_tri, 0) AS n_tri,
        |  CASE WHEN deg.deg >= 2 THEN
        |    CAST(coalesce(pn.n_tri, 0) * 2 AS DOUBLE)
        |      / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
        |  END AS coef
        |FROM deg LEFT JOIN pn USING (node)
        |ORDER BY node""".stripMargin,
    // A67: the identical six integer pair sums in HUGEINT (DuckDB's
    // decimal(38,0)-capacity type), the identical final IEEE
    // expression. Pair generation is the same (key, t + lag) equi-join.
    "q_acf" ->
      """WITH h AS (SELECT event_type AS key,
        |        epoch_us(ts) // 3600000000 AS t,
        |        CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS x
        |      FROM events GROUP BY 1, 2),
        |p AS (SELECT a.key, l.lag, a.x AS x, b.x AS y
        |      FROM h a CROSS JOIN (SELECT unnest(range(1, 7)) AS lag) l
        |      JOIN h b ON a.key = b.key AND b.t = a.t + l.lag),
        |g AS (SELECT key, lag,
        |        CAST(count(*) AS HUGEINT) AS n,
        |        CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |        CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
        |        CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
        |        CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
        |      FROM p GROUP BY 1, 2)
        |SELECT key, CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
        |        AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0
        |    THEN CAST(round(CAST(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)
        |  END AS r
        |FROM g ORDER BY key, lag""".stripMargin,
    // A68: the identical discrete-percentile clamp — rn/n windows,
    // position-selected thresholds via in-partition conditional max,
    // integer clamped sums, one final IEEE expression per moment.
    "q_winsorize" ->
      """WITH e AS (SELECT event_type AS key,
        |        CAST(floor(value * 1000000) AS BIGINT) AS v FROM events),
        |r AS (SELECT key, v,
        |        row_number() OVER (PARTITION BY key ORDER BY v) AS rn,
        |        count(*) OVER (PARTITION BY key) AS n FROM e),
        |i AS (SELECT *,
        |        least(greatest((n * 50 + 999) // 1000, 1), n) AS ilo,
        |        least(greatest((n * 950 + 999) // 1000, 1), n) AS ihi
        |      FROM r),
        |b AS (SELECT *,
        |        max(CASE WHEN rn = ilo THEN v END)
        |          OVER (PARTITION BY key) AS lo,
        |        max(CASE WHEN rn = ihi THEN v END)
        |          OVER (PARTITION BY key) AS hi
        |      FROM i),
        |c AS (SELECT key, n, lo, hi, v,
        |        least(greatest(v, lo), hi) AS w FROM b),
        |g AS (SELECT key, max(n) AS n, max(lo) AS lo, max(hi) AS hi,
        |        sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS n_clip_lo,
        |        sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS n_clip_hi,
        |        CAST(sum(CAST(w AS HUGEINT)) AS HUGEINT) AS sw,
        |        CAST(sum(CAST(w AS HUGEINT) * CAST(w AS HUGEINT)) AS HUGEINT) AS sww,
        |        CAST(count(*) AS HUGEINT) AS cn
        |      FROM c GROUP BY 1)
        |SELECT key, CAST(n AS BIGINT) AS n, lo, hi,
        |  CAST(n_clip_lo AS BIGINT) AS n_clip_lo,
        |  CAST(n_clip_hi AS BIGINT) AS n_clip_hi,
        |  CAST(round(CAST(CAST((CAST(sw AS DOUBLE) / CAST(cn AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mean_w,
        |  CAST(round(CAST(CAST((sqrt(CAST(cn * sww - sw * sw AS DOUBLE))
        |    / CAST(cn AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS std_w
        |FROM g ORDER BY key""".stripMargin,
    // A69: the A67 kernel with two filtered series and signed lags.
    "q_ccf" ->
      """WITH hx AS (SELECT user_id % 4 AS key,
        |        epoch_us(ts) // 3600000000 AS t,
        |        CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS x
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |hy AS (SELECT user_id % 4 AS key,
        |        epoch_us(ts) // 3600000000 AS t,
        |        CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS y
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |p AS (SELECT a.key, l.lag, a.x AS x, b.y AS y
        |      FROM hx a CROSS JOIN (SELECT unnest(range(-6, 7)) AS lag) l
        |      JOIN hy b ON a.key = b.key AND b.t = a.t + l.lag),
        |g AS (SELECT key, lag,
        |        CAST(count(*) AS HUGEINT) AS n,
        |        CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |        CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
        |        CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
        |        CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
        |      FROM p GROUP BY 1, 2)
        |SELECT key, CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
        |        AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0
        |    THEN CAST(round(CAST(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE)
        |  END AS r
        |FROM g ORDER BY key, lag""".stripMargin,
    // A57: per-day leaderboard + day+1 self-join for rank movement.
    "q_trending" ->
      """WITH c AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |        event_type, count(*) AS n_events
        |      FROM events GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY day
        |        ORDER BY n_events DESC, event_type) AS INTEGER) AS rnk
        |      FROM c)
        |SELECT a.day, a.event_type, a.n_events, a.rnk,
        |  b.rnk AS prev_rnk, b.rnk - a.rnk AS rank_delta
        |FROM r a LEFT JOIN r b
        |  ON a.day = b.day + 1 AND a.event_type = b.event_type
        |ORDER BY a.day, a.rnk""".stripMargin,
    // A59: distinct (session, type) presence -> pair join -> lift.
    "q_basket" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |        event_type AS ty, event_id FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) AS pus FROM e),
        |s AS (SELECT *, sum(CASE WHEN pus IS NULL OR us - pus > 1800000000
        |          THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sess FROM l),
        |st AS (SELECT DISTINCT user_id || '#' || sess AS sid, ty FROM s),
        |tot AS (SELECT count(DISTINCT sid) AS n_sessions FROM st),
        |pt AS (SELECT ty, count(*) AS n FROM st GROUP BY ty),
        |pr AS (SELECT x.ty AS type_a, y.ty AS type_b, count(*) AS n_ab
        |       FROM st x JOIN st y ON x.sid = y.sid AND x.ty < y.ty
        |       GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, pr.n_ab, a.n AS n_a, b.n AS n_b,
        |  tot.n_sessions,
        |  CAST(round(CAST(CAST((CAST(tot.n_sessions * pr.n_ab AS DOUBLE)
        |    / CAST(a.n * b.n AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS lift
        |FROM pr JOIN pt a ON pr.type_a = a.ty
        |JOIN pt b ON pr.type_b = b.ty CROSS JOIN tot
        |ORDER BY type_a, type_b""".stripMargin,
    // A55: the A6 session kernel + ordered list + trigram unnest.
    "q_path_analysis" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |        event_type AS ty, event_id FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) AS pus FROM e),
        |s AS (SELECT *, sum(CASE WHEN pus IS NULL OR us - pus > 1800000000
        |          THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sess FROM l),
        |q AS (SELECT user_id, sess, list(ty ORDER BY us, event_id) AS tys
        |      FROM s GROUP BY 1, 2),
        |p AS (SELECT user_id, sess,
        |        unnest(list_transform(generate_series(1, len(tys) - 2),
        |          i -> tys[i] || '>' || tys[i+1] || '>' || tys[i+2])) AS path
        |      FROM q WHERE len(tys) >= 3)
        |SELECT path, count(*) AS n_occ,
        |  count(DISTINCT user_id || '#' || sess) AS n_sessions
        |FROM p GROUP BY path ORDER BY path""".stripMargin,
    // A56: first-seen-day counts + cumulative sum over days.
    "q_running_distinct" ->
      """WITH f AS (SELECT user_id,
        |        min(CAST(date_trunc('day', ts) AS DATE)) AS day
        |      FROM events GROUP BY user_id),
        |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin,
    // A54: struct min/max is lexicographic in BOTH engines (field
    // order (us, id, ty); ids unique -> total order, no tie hazard).
    "q_attribution" -> {
      val lookUs = AttributionLookbackSeconds * 1000000L
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
         |           FROM events),
         |conv AS (SELECT user_id, event_id AS conv_event_id, us AS conv_us
         |         FROM e WHERE event_type = 'purchase'),
         |touch AS (SELECT user_id, event_id AS t_id, event_type AS t_ty, us AS t_us
         |          FROM e WHERE event_type IN ('click', 'view', 'signup')),
         |j AS (SELECT c.user_id, c.conv_event_id, c.conv_us, t.t_us, t.t_id, t.t_ty
         |      FROM conv c JOIN touch t ON c.user_id = t.user_id
         |       AND t.t_us >= c.conv_us - $lookUs AND t.t_us < c.conv_us),
         |a AS (SELECT user_id, conv_event_id, conv_us, count(*) AS n_touches,
         |        min(struct_pack(u := t_us, i := t_id, y := t_ty)) AS f,
         |        max(struct_pack(u := t_us, i := t_id, y := t_ty)) AS l
         |      FROM j GROUP BY 1, 2, 3)
         |SELECT c.conv_event_id, c.user_id, c.conv_us,
         |  coalesce(a.n_touches, 0) AS n_touches,
         |  coalesce(a.f.y, 'direct') AS first_touch, a.f.i AS first_event_id,
         |  coalesce(a.l.y, 'direct') AS last_touch, a.l.i AS last_event_id
         |FROM conv c LEFT JOIN a USING (user_id, conv_event_id, conv_us)
         |ORDER BY conv_event_id""".stripMargin
    },
    "q_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "q_window_suite" ->
      """SELECT event_type, event_id, CAST(round(CAST(CAST((value) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS value,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  CAST(round(CAST(CAST((lag(value, 1) OVER w) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS prev_value,
        |  CAST(round(CAST(CAST((lead(value, 1) OVER w) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS next_value,
        |  CAST(round(CAST(CAST((sum(value) OVER (PARTITION BY event_type ORDER BY value DESC, event_id
        |    ROWS UNBOUNDED PRECEDING)) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS running_sum,
        |  CAST(round(CAST(CAST((min(value) OVER (PARTITION BY event_type ORDER BY value DESC, event_id
        |    ROWS UNBOUNDED PRECEDING)) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS running_min
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
        |ORDER BY event_type, rnk, event_id""".stripMargin,
    "q_gap_fill" ->
      s"""WITH e AS (SELECT *, CAST(date_trunc('day', ts) AS DATE) AS day
         |  FROM events WHERE user_id < 20),
         |daily AS (SELECT day, user_id, count(*) AS n,
         |    ${sum2Sql("value")} AS sum_value
         |  FROM e GROUP BY day, user_id),
         |spine AS (SELECT unnest(generate_series((SELECT min(day) FROM e),
         |    (SELECT max(day) FROM e), INTERVAL 1 DAY))::DATE AS day),
         |slots AS (SELECT day, user_id FROM spine
         |  CROSS JOIN (SELECT DISTINCT user_id FROM e))
         |SELECT s.day, s.user_id,
         |  COALESCE(d.n, 0) AS n, COALESCE(d.sum_value, 0.0) AS sum_value
         |FROM slots s LEFT JOIN daily d ON s.day = d.day AND s.user_id = d.user_id
         |ORDER BY s.day, s.user_id""".stripMargin,
    "q_fill_forward" ->
      s"""WITH e AS (SELECT *, CAST(date_trunc('day', ts) AS DATE) AS day
         |  FROM events WHERE user_id < 20),
         |daily AS (SELECT day, user_id, ${sum2Sql("value")} AS sum_value
         |  FROM e GROUP BY day, user_id),
         |spine AS (SELECT unnest(generate_series((SELECT min(day) FROM e),
         |    (SELECT max(day) FROM e), INTERVAL 1 DAY))::DATE AS day),
         |slots AS (SELECT day, user_id FROM spine
         |  CROSS JOIN (SELECT DISTINCT user_id FROM e)),
         |sparse AS (SELECT s.day, s.user_id, d.sum_value
         |  FROM slots s LEFT JOIN daily d
         |    ON s.day = d.day AND s.user_id = d.user_id)
         |SELECT day, user_id, sum_value IS NOT NULL AS observed,
         |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS filled_value
         |FROM sparse ORDER BY day, user_id""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_profit_nation" ->
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
         |  CAST(round(sum($discPrice), 2) AS DOUBLE) AS sum_profit,
         |  count(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_pivot" -> {
      val cols = Seq("click", "error", "purchase", "signup", "view")
        .map(ty => s"  ${sum2Sql(s"CASE WHEN event_type = '$ty' THEN value END")} AS $ty")
        .mkString(",\n")
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |$cols
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_moving_window" ->
      """SELECT user_id, event_id, us,
        |  count(*) OVER w AS n_1h,
        |  CAST(round(sum(CAST(value AS DECIMAL(28,10))) OVER w, 2) AS DOUBLE) AS sum_1h
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS us, value
        |      FROM events WHERE user_id < 50)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin,
    "q_setops" ->
      """SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin,
    "q_setops_full" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |       CAST(date_trunc('day', ts) AS DATE) AS day, event_type
        |     FROM events)
        |SELECT user_id, day, 'both' AS src FROM (
        |  SELECT user_id, day FROM e WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id, day FROM e WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, day, 'signup' AS src FROM e
        |WHERE event_type = 'signup'
        |ORDER BY user_id, day, src""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |       CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |       GROUP BY e.user_id)
        |SELECT 'signup' AS stage, CAST(1 AS BIGINT) AS depth,
        |       count(*) AS n_entities FROM s1
        |UNION ALL SELECT 'signup>click', 2, count(*) FROM s2
        |UNION ALL SELECT 'signup>click>purchase', 3, count(*) FROM s3
        |ORDER BY depth""".stripMargin,
    "q_retention" ->
      """WITH weeks AS (SELECT DISTINCT user_id,
        |       date_trunc('week', CAST(ts AS TIMESTAMP)) AS week FROM events),
        |cohorts AS (SELECT user_id, min(week) AS cohort_week
        |            FROM weeks GROUP BY user_id)
        |SELECT c.cohort_week,
        |  datediff('day', c.cohort_week, w.week) // 7 AS week_k,
        |  count(*) AS n_users
        |FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |       epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT a.user_id, a.event_id AS click_id, b.event_id AS buy_id,
        |  b.us - a.us AS delta_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.us >= a.us AND b.us - a.us <= 3600000000
        |ORDER BY click_id, buy_id""".stripMargin,
    "q_asof_join" ->
      """WITH r AS (
        |  SELECT * FROM (
        |    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |      row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.ts,
        |  r.o_orderkey, r.o_orderdate, r.o_totalprice
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND r.o_orderdate <= e.ts
        |ORDER BY event_id""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
         |  CAST(round(sum($discPrice), 2) AS DOUBLE) AS sum_disc_price,
         |  CAST(round(sum($discPrice * (1 + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
         |  CAST(round(CAST(CAST((avg(l_quantity)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS avg_qty,
         |  ${avg4Sql("l_discount")} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      s"""SELECT l_orderkey, o_orderdate,
         |  CAST(round(sum($discPrice), 2) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,
    "q5_join" ->
      s"""SELECT r_name, n_name,
         |  CAST(round(sum($discPrice), 2) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,
    "q_topk_window" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    // deliberately the SAME oracle as q_topk_window: the aggregate
    // and the window formulation must be row-identical
    "q_topk_agg" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_time_bucket" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         |  count(*) AS n, ${sum2Sql("value")} AS sum_value,
         |  ${avg4Sql("value")} AS avg_value,
         |  count(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
      s"""WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM x),
        |z AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM y)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |  ${sum2Sql("value")} AS sum_value
        |FROM z GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_key_skew" ->
      """WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        |SELECT CAST(length(bin(n)) - 1 AS INTEGER) AS bucket,
        |  count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(max(n) AS BIGINT) AS max_key_rows
        |FROM k GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_histogram" ->
      s"""WITH s AS (SELECT event_type, min(value) AS mn, max(value) AS mx
         |  FROM events GROUP BY event_type)
         |SELECT e.event_type,
         |  ${graft.operators.Profiling.histogramBinSql("e.value", "mn", "mx", 10)} AS bin,
         |  count(*) AS n_rows
         |FROM events e JOIN s USING (event_type)
         |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,
    "q_col_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(event_id) AS n_null,
        |  count(DISTINCT event_id) AS n_distinct FROM events
        |UNION ALL SELECT 'user_id', count(*), count(*) - count(user_id),
        |  count(DISTINCT user_id) FROM events
        |UNION ALL SELECT 'event_type', count(*), count(*) - count(event_type),
        |  count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'ts', count(*), count(*) - count(ts),
        |  count(DISTINCT ts) FROM events
        |UNION ALL SELECT 'value', count(*), count(*) - count(value),
        |  count(DISTINCT value) FROM events
        |ORDER BY col_name""".stripMargin,
    // A10/A11 banded self-checks: the oracle recomputes the EXACT
    // column and asserts the sketch-error band literally TRUE — the
    // sketch value itself is implementation-defined, its bound is not.
    "q_sketch_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sketch_quantile" ->
      """SELECT event_type, count(*) AS n_rows, TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sketch_cms" ->
      """SELECT event_type, count(*) AS exact_n, TRUE AS cms_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_percentile" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  CAST(round(CAST(CAST((min(CASE WHEN rk * 2 >= n THEN value END)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS p50,
        |  CAST(round(CAST(CAST((min(CASE WHEN rk * 10 >= 9 * n THEN value END)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS p90,
        |  CAST(round(CAST(CAST((min(CASE WHEN rk * 100 >= 99 * n THEN value END)) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS p99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q17_small_qty" ->
      s"""WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
         |li AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
         |       WHERE l_partkey IN (SELECT p_partkey FROM bp)),
         |pa AS (SELECT l_partkey, sum(l_quantity) AS sq, count(*) AS n
         |       FROM li GROUP BY 1)
         |SELECT CAST(round(CAST(CAST((${sum2Sql("l_extendedprice")} / 7) AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE) AS avg_yearly
         |FROM li JOIN pa USING (l_partkey)
         |WHERE l_quantity * n * 5 < sq""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q22_idle_balance" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal,
         |       CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
         |p AS (SELECT sum(cents) AS s, count(*) AS n FROM c WHERE cents > 0)
         |SELECT c_mktsegment, count(*) AS n_cust,
         |  ${sum2Sql("c_acctbal")} AS total_bal
         |FROM c, p
         |WHERE c.cents * p.n > p.s
         |  AND NOT EXISTS (SELECT 1 FROM orders o
         |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_late_ship" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q7_volume" ->
      s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year,
         |  CAST(round(sum($discPrice), 2) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |JOIN nation nc ON c_nationkey = nc.n_nationkey
         |WHERE ns.n_name IN ('NATION_1', 'NATION_2')
         |  AND nc.n_name IN ('NATION_1', 'NATION_2')
         |  AND ns.n_name <> nc.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_mkt_share" ->
      s"""WITH x AS (
         |  SELECT year(o_orderdate) AS o_year,
         |    CAST(round(coalesce(sum(CASE WHEN n2.n_name = 'NATION_3'
         |      THEN $discPrice END), CAST(0 AS DECIMAL(12,2))), 2) AS DOUBLE)
         |      AS nation_revenue,
         |    CAST(round(sum($discPrice), 2) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE p_type = 'PROMO'
         |    AND o_custkey IN (
         |      SELECT c_custkey FROM customer
         |      JOIN nation ON c_nationkey = n_nationkey
         |      JOIN region ON n_regionkey = r_regionkey
         |      WHERE r_name = 'EUROPE')
         |  GROUP BY 1)
         |SELECT o_year, nation_revenue, total_revenue,
         |  CAST(round(CAST(CAST((nation_revenue / total_revenue) AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) AS mkt_share
         |FROM x ORDER BY o_year""".stripMargin,
    "q10_returned" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(round(sum($discPrice), 2) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo" ->
      s"""WITH x AS (
         |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
         |    CAST(round(coalesce(sum(CASE WHEN p_type = 'PROMO'
         |      THEN $discPrice END), CAST(0 AS DECIMAL(12,2))), 2) AS DOUBLE)
         |      AS promo_revenue,
         |    CAST(round(sum($discPrice), 2) AS DOUBLE) AS total_revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1)
         |SELECT ship_month, promo_revenue, total_revenue,
         |  CAST(round(CAST(CAST((100.0 * promo_revenue / total_revenue) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS promo_pct
         |FROM x ORDER BY ship_month""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    CAST(round(sum($discPrice), 2) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q19_disjunctive" ->
      s"""SELECT CAST(round(sum($discPrice), 2) AS DOUBLE) AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
         |    AND l_quantity BETWEEN 10 AND 40)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
         |    AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "q21_sole_blame" ->
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret,
        |    min(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS culprit
        |  FROM lineitem GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM per_order JOIN supplier ON culprit = s_suppkey
        |WHERE n_supp >= 2 AND n_ret = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,
    "q2_min_cost" ->
      s"""WITH ps AS (
         |  $partsuppSql),
         |eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE'),
         |cand AS (SELECT ps_partkey, ps_cost_cents, s_name, s_acctbal, n_name
         |  FROM ps JOIN eu ON ps_suppkey = s_suppkey),
         |mc AS (SELECT ps_partkey, min(ps_cost_cents) AS min_cents
         |  FROM cand GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
         |  ps_cost_cents / 100.0 AS supply_cost
         |FROM cand
         |JOIN mc USING (ps_partkey)
         |JOIN part ON ps_partkey = p_partkey
         |WHERE ps_cost_cents = min_cents
         |  AND p_size IN (15, 25, 35) AND p_type = 'STANDARD'
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin,
    "q11_important_stock" ->
      s"""WITH ps AS (
         |  $partsuppSql),
         |stock AS (SELECT ps_partkey, ps_cost_cents * ps_availqty AS v
         |  FROM ps
         |  WHERE ps_suppkey IN (
         |    SELECT s_suppkey FROM supplier
         |    JOIN nation ON s_nationkey = n_nationkey
         |    WHERE n_name = 'NATION_7')),
         |g AS (SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS val_cents
         |  FROM stock GROUP BY 1),
         |tot AS (SELECT CAST(sum(v) AS BIGINT) AS t FROM stock)
         |SELECT ps_partkey, val_cents, val_cents / 100.0 AS value
         |FROM g, tot
         |WHERE val_cents * 10000 > t
         |ORDER BY val_cents DESC, ps_partkey""".stripMargin,
    "q16_supplier_cnt" ->
      s"""WITH ps AS (
         |  $partsuppSql)
         |SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
         |  AND NOT EXISTS (SELECT 1 FROM supplier
         |    WHERE s_suppkey = ps_suppkey AND s_acctbal < 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_excess_parts" ->
      s"""WITH ps AS (
         |  $partsuppSql),
         |qty AS (SELECT l_partkey, l_suppkey,
         |    CAST(sum(l_quantity) AS BIGINT) AS sq
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  GROUP BY 1, 2),
         |excess AS (SELECT DISTINCT ps_suppkey
         |  FROM ps
         |  JOIN qty ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |  WHERE ps_partkey IN (SELECT p_partkey FROM part
         |      WHERE p_name LIKE '%red%')
         |    AND ps_availqty * 2 > sq)
         |SELECT s_suppkey, s_name, n_name
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE s_suppkey IN (SELECT ps_suppkey FROM excess)
         |ORDER BY s_suppkey""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  count(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_gt50
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q12_shipmode" ->
      """WITH l AS (
        |  SELECT l_orderkey,
        |    ['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB']
        |      [CAST((l_orderkey * 5 + l_linenumber) % 7 AS INT) + 1] AS l_shipmode,
        |    (l_orderkey + 11 * l_linenumber) % 45 - 15 AS c,
        |    (l_orderkey * 3 + l_linenumber) % 30 + 1 AS r,
        |    l_shipdate
        |  FROM lineitem)
        |SELECT l_shipmode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM l JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipmode IN ('MAIL', 'SHIP')
        |  AND c > 0 AND c < r
        |  AND l_shipdate + INTERVAL (r) DAY >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate + INTERVAL (r) DAY < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
