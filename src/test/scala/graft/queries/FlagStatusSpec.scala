package graft.queries

import java.nio.file.Files

import graft.SparkSuite

/** The rollup/cube/grouping-sets family regroups per-(flag, status)
  * partials whose quantity sums are longs: exact for integral
  * quantities, and a loud error (never a silent truncation) otherwise.
  */
class FlagStatusSpec extends SparkSuite {
  import spark.implicits._

  private def lineitemDir(rows: (String, String, java.lang.Double, Double)*): String = {
    val dir = Files.createTempDirectory("graft-lineitem").toString
    rows.toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private val family = Seq(
    "q_rollup" -> AnalyticsQueries.qRollup _,
    "q_cube" -> AnalyticsQueries.qCube _,
    "q_grouping_sets" -> AnalyticsQueries.qGroupingSets _)

  test("integral quantities sum exactly; null quantities are skipped") {
    val dir = lineitemDir(("A", "F", 2.0, 1.25), ("A", "F", 3.0, 2.5),
      ("R", "O", null, 4.0))
    val rollup = AnalyticsQueries.qRollup(spark, dir)
      .as[(String, String, Long, Option[Long])].collect().toSeq
    assert(rollup == Seq((null, null, 3L, Some(5L)), ("A", null, 2L, Some(5L)),
      ("A", "F", 2L, Some(5L)), ("R", null, 1L, None), ("R", "O", 1L, None)))
  }

  test("a fractional l_quantity raises instead of truncating") {
    val dir = lineitemDir(("A", "F", 2.0, 1.25), ("N", "O", 1.5, 2.5))
    family.foreach { case (name, q) =>
      val e = intercept[Exception](q(spark, dir).collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(messages.exists(_.contains("non-integral l_quantity 1.5")),
        s"$name: ${e.getMessage}")
    }
  }
}
