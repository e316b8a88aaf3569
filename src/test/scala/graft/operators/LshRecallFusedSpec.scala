package graft.operators

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
      if (maxDf <= 0) Dedup.jaccardFilter(Dedup.sharedCounts(sets), sets, 1, 2)
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
    // cappedJaccardPairs code either way, so identity on a non-empty
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
}
