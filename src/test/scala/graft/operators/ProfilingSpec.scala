package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class ProfilingSpec extends SparkSuite {
  import spark.implicits._

  test("keySkew: log2 buckets are integer-exact at powers of two") {
    // keys with 1, 2, 4, 5, 8 rows → buckets 0, 1, 2, 2, 3
    val df = Seq.fill(1)("a").map(("k1", _)) ++
      Seq.fill(2)("a").map(("k2", _)) ++
      Seq.fill(4)("a").map(("k4", _)) ++
      Seq.fill(5)("a").map(("k5", _)) ++
      Seq.fill(8)("a").map(("k8", _))
    val got = Profiling.keySkew(df.toDF("k", "v"), "k")
      .orderBy("bucket")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 1L, 1L, 1L), (1, 1L, 2L, 2L),
      (2, 2L, 9L, 5L), (3, 1L, 8L, 8L)))
  }

  test("histogram: equi-width bins, max value clamps into the last bin") {
    // group g: values 0..10 over [0,10] with 5 bins → width 2; v=10
    // clamps to bin 4. Group c is single-valued → everything in bin 0.
    val rows = (0 to 10).map(v => ("g", v.toDouble)) ++
      Seq(("c", 7.0), ("c", 7.0))
    val got = Profiling.histogram(rows.toDF("grp", "v"), "grp", "v", 5)
      .orderBy("grp", "bin")
      .as[(String, Int, Long)].collect().toSeq
    assert(got == Seq(("c", 0, 2L),
      ("g", 0, 2L), ("g", 1, 2L), ("g", 2, 2L), ("g", 3, 2L), ("g", 4, 3L)))
  }

  test("columnProfile: exact null and distinct counts, both strategies") {
    val df = Seq(
      (Some(1L), Some("x")), (Some(1L), None),
      (Some(2L), Some("y")), (None, Some("x"))
    ).toDF("id", "s")
    val got = Profiling.columnProfile(df, Seq("id", "s"))
      .orderBy("col_name")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("id", 4L, 1L, 2L), ("s", 4L, 1L, 2L)))
  }

  test("columnProfile plans: expand reads the table once, fused counts rows once") {
    val df = (1 to 50).map(i => (i.toLong, s"v${i % 7}", i % 3))
      .toDF("a", "b", "c")
    val scans = "LocalTableScan".r.findAllIn(Profiling
        .columnProfile(df, Seq("a", "b", "c"))
        .queryExecution.executedPlan.toString).length
    // fused: one wide count/null scan + one pruned scan per distinct leg
    assert(scans == 4)
  }

  test("histogramBinSql mirrors the Scala bin expression") {
    // Run the SQL twin through Spark itself on the same frame: if the
    // two expressions ever drift, the bins disagree somewhere.
    val rows = (0 to 100).map(v => ("g", v * 0.37)) ++
      Seq(("h", 1.0), ("h", 2.0), ("h", 3.0))
    val df = rows.toDF("grp", "v")
    df.createOrReplaceTempView("__prof_probe")
    val viaSql = spark.sql(
      s"""WITH s AS (SELECT grp, min(v) AS mn, max(v) AS mx
         |  FROM __prof_probe GROUP BY grp)
         |SELECT e.grp, ${Profiling.histogramBinSql("e.v", "mn", "mx", 7)} AS bin,
         |  count(*) AS n_rows
         |FROM __prof_probe e JOIN s USING (grp)
         |GROUP BY 1, 2""".stripMargin)
      .orderBy("grp", "bin").collect().toSeq
    val viaScala = Profiling.histogram(df, "grp", "v", 7)
      .orderBy("grp", "bin").collect().toSeq
    assert(viaSql == viaScala)
  }
}
