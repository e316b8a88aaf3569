package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Shared helpers for the SparkEntry query set. */
object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Deterministic IPv4 host for an events row — the corpus has no
    * host_metrics table (see SURVEY.md §4), so both Spark and the DuckDB
    * oracle derive `10.(uid>>16).(uid>>8).(uid&255)` from user_id.
    */
  def hostOf(userId: Column): Column =
    concat_ws(".",
      lit(10),
      shiftright(userId, 16).bitwiseAND(lit(255L)),
      shiftright(userId, 8).bitwiseAND(lit(255L)),
      userId.bitwiseAND(lit(255L)))

  /** events + derived host column. */
  def hostEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("host", hostOf(col("user_id")))

  /** Networks list (the reference's networks_list config input,
    * /root/reference/main.go:112-133): split 10.0.0.0/24 into /26s so
    * small SFs (few distinct user_ids, all in 10.0.0.x) still exercise
    * multiple groups, plus the /24s larger SFs can reach.
    */
  val netList: Seq[String] =
    (0 to 3).map(i => s"10.0.0.${i * 64}/26") ++ (1 to 5).map(i => s"10.0.$i.0/24")

  /** Exact money arithmetic: parquet stores money as double; casting to
    * decimal makes sums order-independent and bit-identical to the DuckDB
    * oracle (double sums are not associative; decimal sums are exact).
    * Final cast back to double is exact→nearest, identical on both sides.
    */
  def money(c: Column): Column = c.cast("decimal(12,2)")
  def rate(c: Column): Column = c.cast("decimal(6,4)")

  /** Exact decimal sum → 2-decimal double. Rounding BEFORE the double
    * cast keeps the numerator < 2^53, so decimal→double is a single
    * correctly-rounded step on both engines; casting a scale-10 decimal
    * sum directly differs from DuckDB by 1 ulp (double-rounding).
    */
  def moneySum(c: Column): Column = round(sum(c), 2).cast("double")

  /** Defensive rounding for double outputs built from float math. */
  def r4(c: Column): Column = round(c, 4)
  def r2(c: Column): Column = round(c, 2)

  /** TZ-independent timestamp literal: parsed in the SESSION time zone
    * (pinned UTC by every entrypoint and spec). The previous
    * `lit(java.sql.Timestamp.valueOf(...))` form parses in the JVM
    * DEFAULT zone — every date-boundary filter drifted with the
    * driver's TZ (a TZ=Pacific/Chatham gate sweep flipped q1_agg's
    * boundary rows), which on a mixed-TZ cluster fleet is silent
    * result divergence between drivers.
    */
  def tsLit(s: String): Column = to_timestamp(lit(s))

  /** Order-independent `round(sum(double), 2)`: the double is decimal-cast
    * first so the sum is exact (partition order can't move the result by an
    * ulp the way a raw double sum can), rounded to scale 2 while still
    * decimal, then double-cast (numerator < 2^53 → single correctly-rounded
    * step, identical in DuckDB — same discipline as moneySum).
    */
  def sum2(c: Column): Column =
    round(sum(c.cast("decimal(28,10)")), 2).cast("double")

  /** Order-independent `avg(double)` truncated to 4 places. DuckDB's
    * avg(DECIMAL) returns DOUBLE while Spark's stays decimal, so avg is
    * computed as exact-decimal-sum (rounded to scale 6 → exact double)
    * divided by the non-null count in IEEE double: both engines perform
    * the identical single division on identical inputs. The final cut is
    * FLOOR on the 1e4 ladder, not round — rounding a DOUBLE is
    * engine-ambiguous at half ties (Spark rounds the shortest decimal
    * re-rendering of the double, DuckDB the binary value itself: the
    * sf0.001 gate caught avg 38.378749999999996… reading 38.3788 in
    * Spark vs 38.3787 in DuckDB), while floor of the same double is one
    * exact predicate on identical bits. Same floor-not-round discipline
    * as q_acf's ladder.
    */
  def avg4(c: Column): Column =
    floor(round(sum(c.cast("decimal(28,10)")), 6).cast("double") / count(c)
      * 10000) / 10000

  /** DuckDB oracle twins of sum2/avg4 (same arithmetic, same order). */
  def sum2Sql(x: String): String =
    s"CAST(round(sum(CAST(($x) AS DECIMAL(28,10))), 2) AS DOUBLE)"
  def avg4Sql(x: String): String =
    s"floor(CAST(round(sum(CAST(($x) AS DECIMAL(28,10))), 6) AS DOUBLE)" +
      s" / count($x) * 10000) / 10000"

  /** The generic scale-k floor ladder — the engine-unambiguous cut for
    * any DISPLAY-precision trim of a double. `round(double, k)` is a
    * different function in each engine (Spark rounds the shortest
    * decimal re-rendering HALF_UP; DuckDB multiplies by 10^k and
    * rounds the binary product half-away — both kernels validated
    * against their engines in SURVEY §32.3; they differ on ~5% of
    * tie-neighborhood renderings), while floor(x·10^k)/10^k is the
    * identical IEEE op sequence on identical bits in both. Same
    * discipline as [[avg4]]/q_acf, generalized to any scale.
    */
  def cut(c: Column, k: Int): Column = {
    val p = math.pow(10, k)
    floor(c * p) / p
  }
}
