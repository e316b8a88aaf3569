package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Pins the r18 lshRecall fusion: the row-local band-equality predicate
  * over truth pairs must reproduce EXACTLY the (bucket, n_true, n_hit,
  * recall) rows of the pre-r18 two-tower reference (truth LEFT JOIN the
  * standalone LSH pair chain) — on a corpus with exact dups, partial
  * overlaps below/above the threshold, and df-capped hot shingles.
  */
class LshRecallFusedSpec extends SparkSuite {
  import spark.implicits._

  private def corpus = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val words = base.split(" ")
    val docs = Seq.tabulate(30) { i =>
      val t = i % 5 match {
        case 0 => base
        case 1 => base // exact dup of case 0
        case 2 => words.drop(2).mkString(" ") + s" unique$i tail$i"
        case 3 => s"head$i " + words.take(7).mkString(" ")
        case 4 => s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"
      }
      (i.toLong, t)
    }
    docs.toDF("doc_id", "text")
  }

  private def reference(maxDf: Long) = {
    val sets = Materializer.of(spark)(
      Dedup.shingleSets(corpus, "doc_id", "text", 3))
    val truth =
      if (maxDf <= 0) Dedup.jaccardPairs(sets, 1, 2, maxDf = 0)
      else Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 1, 2, maxDf = maxDf)
    val hits = Dedup.lshPairsFromSets(sets, 1, 2)
      .select(col("doc_a"), col("doc_b"), lit(1).as("__hit"))
    truth
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"))
      .withColumn("bucket", expr("10 * shared div (n_a + n_b - shared)"))
      .join(hits, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_true"), 4))
      .orderBy(col("bucket"))
  }

  test("fused recall rows identical to the two-tower reference") {
    // the fusion rewrites only the HIT side (band membership as a
    // row-local predicate); the truth side is the shared
    // Dedup.jaccardPairs verifier either way, so identity on a non-empty
    // truth set at maxDf 0 and 100 (the production q_dedup_recall cap)
    // is what pins it — the capped path end-to-end is oracle-gated
    for (maxDf <- Seq(0L, 100L)) {
      val got = Dedup.lshRecall(corpus, "doc_id", "text", 3, 1, 2,
        maxDf = maxDf).collect().toSeq
      val want = reference(maxDf).collect().toSeq
      assert(got == want, s"maxDf=$maxDf")
      assert(got.nonEmpty, s"maxDf=$maxDf produced an empty gate")
    }
  }

  /** Spark jobs started while `build` runs on this thread. The jobs
    * run under a job group; a sentinel job in a second group, seen by
    * the listener after them, proves every start event has arrived.
    */
  private def buildJobs(build: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"build-${System.nanoTime}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      build
      sc.setJobGroup(group + "-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener never drained")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("capped lshRecall materializes its shingle index once") {
    assert(Materializer.of(spark) == Materializer.Local)
    // building runs only the eager materializations: the shingle index
    // and the hot-shingle table, each exactly once
    val parts = buildJobs {
      val sets = Materializer.of(spark)(
        Dedup.shingleSets(corpus, "doc_id", "text", 3))
      Dedup.hotShingles(sets, 4)
    }
    val recall = buildJobs(
      Dedup.lshRecall(corpus, "doc_id", "text", 3, 1, 2, maxDf = 4))
    assert(parts > 0)
    assert(recall == parts, s"lshRecall build jobs=$recall, index + hot table=$parts")
  }
}
