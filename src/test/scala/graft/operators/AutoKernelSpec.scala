package graft.operators

import graft.SparkSuite

/** The two rank kernels of [[Baseline.rankSelect]] (`bucketKernel`
  * false = per-group sort window, true = RankSelect bucket offsets)
  * must select IDENTICAL elements on a flat corpus and on one with a
  * hot group, so the `_rs` queries are a verified drop-in.
  */
class AutoKernelSpec extends SparkSuite {
  import spark.implicits._

  private val flat = (1 to 900).map(i => (s"k${i % 30}", (i * 37 % 101).toDouble))
  private val hot = (1 to 2000).map(i => ("hot", (i * 13 % 997).toDouble)) ++
    (1 to 90).map(i => (s"k${i % 9}", i.toDouble))

  test("auto selections are identical to both explicit kernels, either branch") {
    def selections(bucketKernel: Boolean, rows: Seq[(String, Double)]) =
      Baseline.rankSelect(rows.toDF("g", "v").repartition(4), "g", "v", 19, 20,
          bucketKernel)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    for (rows <- Seq(flat, hot)) {
      val window = selections(bucketKernel = false, rows)
      assert(window.nonEmpty)
      assert(window == selections(bucketKernel = true, rows))
    }
  }
}
