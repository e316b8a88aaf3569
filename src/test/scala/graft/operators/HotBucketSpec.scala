package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Scale guards for the dedup candidate generators: a stop-phrase
  * shingle (or a popular simhash band value) shared by the whole
  * corpus must not fan out into O(corpus²) candidate pairs — at 100 TB
  * that one bucket is a straggler task that never finishes.
  */
class HotBucketSpec extends SparkSuite {
  import spark.implicits._

  // Adversarial corpus: every doc shares one boilerplate phrase; tails
  // are unique, so no pair is a true near-dup except the planted one.
  private val n = 60
  private val boiler = "this document is provided as is without warranty of any kind"
  private val docs = {
    val unique = (1 to n).map { i =>
      (i.toLong, s"$boiler unique tail $i with words w${i}a w${i}b w${i}c w${i}d")
    }
    // planted near-dup pair: 1001/1002 differ by one word
    (unique ++ Seq(
      (1001L, s"$boiler identical payload alpha beta gamma delta epsilon zeta"),
      (1002L, s"$boiler identical payload alpha beta gamma delta epsilon zeta eta")))
      .toDF("doc_id", "text")
  }

  test("posting-list cap bounds ngram candidates without losing true near-dups") {
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    // candidate pairs: the pairs the overlap count emits
    def candidates(hot: Option[DataFrame]): Long =
      Dedup.sharedCounts(sets, sets, ("doc_a", "doc_b"),
        col("doc_a") < col("doc_b"), hot).count()
    val uncapped = candidates(None)
    val capped = candidates(Some(Dedup.hotShingles(sets, 4)))
    // every doc shares the boilerplate shingles -> uncapped is all-pairs
    assert(uncapped >= n.toLong * (n - 1) / 2, s"uncapped=$uncapped")
    // capped: hot shingles (df = 62) drop out; only docs sharing a
    // rare shingle remain candidates
    assert(capped < 20, s"capped=$capped")

    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 2, maxDf = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.toSeq == Seq((1001L, 1002L)))
  }

  test("capped ngram equals uncapped output when overlaps are rare-shingle-backed") {
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 2, maxDf = 4)
      .collect().map(_.toSeq).toSet
    val uncapped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(_.toSeq).toSet
    assert(capped == uncapped)
  }

  test("simhash band-width guard drops oversized buckets") {
    // identical docs -> identical simhash -> every band bucket has
    // width = corpus size (the worst case the guard exists for; real
    // byte-identical dups belong to exact dedup, run before this)
    val clones = (1 to 50)
      .map(i => (i.toLong, "same words in every single one of these documents here"))
      .toDF("doc_id", "text")
    val unguarded = Dedup.simhashNearDup(clones, "doc_id", "text", 3).count()
    val guarded = Dedup.simhashNearDup(clones, "doc_id", "text", 3, maxBucket = 10).count()
    assert(unguarded == 50L * 49 / 2)
    assert(guarded == 0)
  }

  test("simhash guard keeps pairs in buckets under the cap") {
    val out = Dedup.simhashNearDup(docs, "doc_id", "text", 3, maxBucket = 100)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // cap above any bucket width here -> same as unguarded
    val ref = Dedup.simhashNearDup(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(out.sorted.toSeq == ref.sorted.toSeq)
  }
}
