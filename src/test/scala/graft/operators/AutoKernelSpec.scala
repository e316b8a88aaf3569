package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** `graft.rankKernel=auto` must turn the MEASURED crossover (SURVEY §15)
  * into an automatic decision: the skew audit (hottest group's row
  * count vs `graft.rankKernel.autoThreshold`) picks the bucket kernel
  * only for hot-group corpora — and whichever kernel it picks, the
  * selected elements are IDENTICAL to both explicit kernels.
  */
class AutoKernelSpec extends SparkSuite {
  import spark.implicits._

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private val flat = (1 to 900).map(i => (s"k${i % 30}", (i * 37 % 101).toDouble))
  private val hot = (1 to 2000).map(i => ("hot", (i * 13 % 997).toDouble)) ++
    (1 to 90).map(i => (s"k${i % 9}", i.toDouble))

  test("auto picks window on a flat corpus, bucket past the hot-group threshold") {
    withConf(Baseline.RankKernelAutoThresholdKey -> "1000") {
      assert(Baseline.chooseRankKernel(flat.toDF("g", "v"), "g") == "window")
      assert(Baseline.chooseRankKernel(hot.toDF("g", "v"), "g") == "bucket")
    }
    // default threshold (4M): both corpora are far below it
    assert(Baseline.chooseRankKernel(hot.toDF("g", "v"), "g") == "window")
  }

  test("threshold boundary is inclusive and an empty input picks window") {
    withConf(Baseline.RankKernelAutoThresholdKey -> "2000") {
      assert(Baseline.chooseRankKernel(hot.toDF("g", "v"), "g") == "bucket")
    }
    withConf(Baseline.RankKernelAutoThresholdKey -> "2001") {
      assert(Baseline.chooseRankKernel(hot.toDF("g", "v"), "g") == "window")
    }
    assert(Baseline.chooseRankKernel(
      Seq.empty[(String, Double)].toDF("g", "v"), "g") == "window")
  }

  test("auto selections are identical to both explicit kernels, either branch") {
    def selections(kernel: String, rows: Seq[(String, Double)]) =
      withKernel(kernel) {
        Baseline.rankSelect(rows.toDF("g", "v").repartition(4), "g", "v", 19, 20)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .toSet
      }
    def withKernel[A](kernel: String)(body: => A): A = {
      spark.conf.set(Baseline.RankKernelKey, kernel)
      try body finally spark.conf.unset(Baseline.RankKernelKey)
    }
    for (rows <- Seq(flat, hot);
         threshold <- Seq("1000", "1000000")) {
      withConf(Baseline.RankKernelAutoThresholdKey -> threshold) {
        val auto = selections("auto", rows)
        assert(auto == selections("window", rows))
        assert(auto == selections("bucket", rows))
      }
    }
  }
}
