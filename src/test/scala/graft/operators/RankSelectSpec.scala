package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** RankSelect.quantiles must pick the IDENTICAL element as the
  * sort-window formulation it replaces — differential-tested against
  * an independent row_number plan on adversarial shapes (ties, single
  * values, hot groups, duplicate-heavy distributions).
  */
class RankSelectSpec extends SparkSuite {
  import spark.implicits._

  private val qs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))

  /** Independent reference: the per-group sort window. */
  private def viaWindow(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("g"))
    df.withColumn("rk", row_number().over(w.orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy(col("g"))
      .agg(
        min(when(col("rk") * 2 >= col("n"), col("v"))).as("p50"),
        min(when(col("rk") * 10 >= col("n") * 9, col("v"))).as("p90"),
        min(when(col("rk") * 100 >= col("n") * 99, col("v"))).as("p99"))
  }

  private def check(rows: Seq[(String, Double)], buckets: Int = 64): Unit = {
    val df = rows.toDF("g", "v").repartition(5)
    val got = RankSelect.quantiles(df, "g", "v", qs, buckets)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val exp = viaWindow(df)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == exp, s"bucket rank diverged from sort window:\ngot $got\nexp $exp")
  }

  test("globalRowNumber equals the global sort window (desc, heavy ties, tiebreak)") {
    val rng = new scala.util.Random(11)
    // 50 distinct values over 3000 rows: ties everywhere, and many
    // values share range buckets
    val df = (1 to 3000).map(i => (i.toLong, (rng.nextInt(50) * 10).toLong))
      .toDF("id", "s").repartition(7)
    val got = RankSelect.globalRowNumber(df, "s", "rk",
        descending = true, tieBreak = Seq("id"), buckets = 16)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rk")).toMap
    val exp = df.withColumn("rk", row_number()
        .over(Window.orderBy(col("s").desc, col("id"))).cast("long"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rk")).toMap
    assert(got == exp)
  }

  test("globalRowNumber ascending matches, including negative values") {
    val rng = new scala.util.Random(23)
    val df = (1 to 1000).map(i => (i.toLong, rng.nextLong() % 1000))
      .toDF("id", "s").repartition(5)
    val got = RankSelect.globalRowNumber(df, "s", "rk",
        tieBreak = Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rk")).toMap
    val exp = df.withColumn("rk", row_number()
        .over(Window.orderBy(col("s").asc, col("id"))).cast("long"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rk")).toMap
    assert(got == exp)
  }

  test("globalRowNumber constant population ranks purely by tiebreak") {
    val df = (1 to 200).map(i => (i.toLong, 42L)).toDF("id", "s")
      .repartition(3)
    val got = RankSelect.globalRowNumber(df, "s", "rk",
        descending = true, tieBreak = Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rk")).toMap
    assert(got == (1 to 200).map(i => i.toLong -> i.toLong).toMap)
  }

  test("globalRowNumber rejects null values loudly (the window form " +
      "would rank them differently)") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "s")
    val e = intercept[IllegalArgumentException](
      RankSelect.globalRowNumber(df, "s", "rk", tieBreak = Seq("id")))
    assert(e.getMessage.contains("null"))
  }

  test("globalRowNumber rejects NaN/Infinity values loudly (floor(NaN) " +
      "buckets low while the window form ranks NaN largest)") {
    val nan = Seq((1L, 5.0), (2L, Double.NaN), (3L, 7.0)).toDF("id", "s")
    val e1 = intercept[IllegalArgumentException](
      RankSelect.globalRowNumber(nan, "s", "rk", tieBreak = Seq("id")))
    assert(e1.getMessage.contains("non-finite"))
    val inf = Seq((1L, 5.0), (2L, Double.NegativeInfinity),
      (3L, Double.PositiveInfinity)).toDF("id", "s")
    val e2 = intercept[IllegalArgumentException](
      RankSelect.globalRowNumber(inf, "s", "rk", tieBreak = Seq("id")))
    assert(e2.getMessage.contains("2 non-finite"))
  }

  test("globalRowNumber on an empty frame returns empty") {
    val df = Seq.empty[(Long, Long)].toDF("id", "s")
    assert(RankSelect.globalRowNumber(df, "s", "rk",
      tieBreak = Seq("id")).count() == 0)
  }

  test("matches the sort window on a mixed pseudo-random population") {
    val rng = new scala.util.Random(42)
    check((1 to 2000).map(i => (s"g${i % 3}", rng.nextDouble() * 100 - 50)))
  }

  test("ties, constant groups, and single-row groups") {
    check(
      (1 to 500).map(_ => ("ties", 7.5)) ++        // one value only
      (1 to 400).map(i => ("dups", (i % 4).toDouble)) ++ // 4 distinct values
      Seq(("single", 3.25)))
  }

  test("hot group concentrated in one bucket still selects exactly") {
    // 95% of the mass at one value (one bucket), the tail spread out —
    // the degenerate shape the scaladoc documents
    val rng = new scala.util.Random(7)
    check((1 to 2000).map(i =>
      ("hot", if (i % 20 == 0) rng.nextDouble() * 1000 else 123.456)))
  }

  test("tiny bucket count (forces multi-quantile buckets) stays exact") {
    val rng = new scala.util.Random(11)
    check((1 to 1000).map(i => (s"g${i % 2}", rng.nextGaussian())), buckets = 2)
  }

  test("num=0 clamps to rank 1: q0 is the group minimum, not null") {
    val df = Seq(("a", 5.0), ("a", 1.5), ("a", 9.0), ("b", -2.0))
      .toDF("g", "v")
    val got = RankSelect.quantiles(df, "g", "v",
        Seq(("q0", 0L, 100L), ("p50", 1L, 2L)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 1.5, "b" -> -2.0))
  }
}
