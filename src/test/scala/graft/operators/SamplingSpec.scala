package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SamplingSpec extends SparkSuite {
  import spark.implicits._

  private val docs = (1L to 2000L).map(i => (i, s"lang${i % 4}"))
    .toDF("doc_id", "lang")

  test("hash split is deterministic, exhaustive, and near the target ratios") {
    val out = Sampling.hashSplit(docs, "doc_id", 80, 10)
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000L)
    assert(math.abs(counts("train") - 1600L) < 100, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 200L) < 60, s"val=${counts("val")}")
    assert(math.abs(counts("test") - 200L) < 60, s"test=${counts("test")}")
    // repartitioning must not move any row between splits (randomSplit
    // does not survive this)
    val again = Sampling.hashSplit(docs.repartition(7), "doc_id", 80, 10)
    assert(out.select("doc_id", "split").except(
      again.select("doc_id", "split")).isEmpty)
  }

  test("stratified sample keeps ~the same rate in every stratum") {
    val kept = Sampling.stratifiedSample(docs, "lang", "doc_id", 100)
    val rates = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 500 docs per stratum at 10% -> ~50 each
    (0 until 4).foreach { i =>
      val n = rates.getOrElse(s"lang$i", 0L)
      assert(n > 20 && n < 90, s"lang$i kept $n of 500")
    }
    // growing the corpus never changes an existing row's fate
    val keptSmall = Sampling.stratifiedSample(
      docs.filter(col("doc_id") <= 1000), "lang", "doc_id", 100)
    assert(keptSmall.except(kept.filter(col("doc_id") <= 1000)).isEmpty)
  }

  test("rejects invalid percentages") {
    intercept[IllegalArgumentException](Sampling.hashSplit(docs, "doc_id", 80, 30))
    intercept[IllegalArgumentException](Sampling.stratifiedSample(docs, "lang", "doc_id", 1500))
  }

  test("mixSample hits target shares and caps oversubscribed sources") {
    // lang0..lang3 with 500 docs each; boost lang0 far beyond its size
    val kept = Sampling.mixSample(docs, "doc_id", "lang",
      Seq("lang0" -> 0.9), defaultShare = 0.1 / 3.0, totalFrac = 0.5)
    val counts = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // lang0 threshold = min(1, 0.5*2000*0.9/500) = 1 -> keep all 500
    assert(counts("lang0") == 500L)
    // others: keep rate 0.5*2000*(0.1/3)/500 = 1/15 of 500 ~ 33
    (1 to 3).foreach { i =>
      val n = counts.getOrElse(s"lang$i", 0L)
      assert(n > 10 && n < 60, s"lang$i kept $n")
    }
    // deterministic under repartitioning
    val again = Sampling.mixSample(docs.repartition(7), "doc_id", "lang",
      Seq("lang0" -> 0.9), defaultShare = 0.1 / 3.0, totalFrac = 0.5)
    assert(kept.except(again).isEmpty && again.except(kept).isEmpty)
  }

  test("null strata and sources are sampled, not silently dropped") {
    val withNulls = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 600L).map(i => org.apache.spark.sql.Row(
          i, if (i % 3 == 0) null else s"lang${i % 2}"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType))))
    // stratified: null stratum keeps ~half at 500 permille
    val kept = Sampling.stratifiedSample(withNulls, "lang", "doc_id", 500)
      .filter(col("lang").isNull).count()
    assert(kept > 50 && kept < 150, s"null stratum kept $kept of 200")
    // mix: null source sampled at defaultShare, not dropped by the join
    val mixed = Sampling.mixSample(withNulls, "doc_id", "lang",
      Seq("lang0" -> 0.4), defaultShare = 0.3, totalFrac = 0.5)
    assert(mixed.filter(col("lang").isNull).count() > 0)
    assert(mixed.count() < 600)
  }

  test("deterministic shuffle is an exact permutation, layout-stable, salt-sensitive") {
    import spark.implicits._
    val docs = (1L to 777L).toDF("doc_id")
    val ranks = Sampling.deterministicShuffle(docs, "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shuffle_rank"))
      .toMap
    // exact permutation: every rank 0..n-1 exactly once
    assert(ranks.values.toSeq.sorted == (0L until 777L))
    // not the identity order (it's a shuffle)
    assert((1L to 777L).map(ranks) != (0L until 777L))
    // identical under a different partition layout
    val again = Sampling.deterministicShuffle(docs.repartition(13), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shuffle_rank"))
      .toMap
    assert(again == ranks)
    // a new salt is a fresh epoch permutation
    val epoch2 = Sampling.deterministicShuffle(docs, "doc_id", salt = "epoch2")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shuffle_rank"))
      .toMap
    assert(epoch2 != ranks && epoch2.values.toSeq.sorted == (0L until 777L))
  }

  test("weightedSample: rate tracks weight, caps at 1, drops zero/null/negative") {
    import spark.implicits._
    // four weight classes of 500 docs each: 0, 1, 3, and a huge weight
    // that oversubscribes past probability 1
    val wdocs = (1L to 2000L).map { i =>
      val w: java.lang.Double = (i % 4) match {
        case 0 => 0.0
        case 1 => 1.0
        case 2 => 3.0
        case _ => 1000.0
      }
      (i, w)
    }.toDF("doc_id", "w")
    val kept = Sampling.weightedSample(wdocs, "doc_id", col("w"), 0.25)
      .groupBy("w").count()
      .collect().map(r => r.getAs[Double]("w") -> r.getAs[Long]("count")).toMap
    // wsum = 500*(1+3+1000) = 502000; scale = 0.25*2000/502000 ~ 1e-3
    // -> class-1 rate ~0.1%, class-3 ~0.3%, class-1000 caps at 100%
    assert(!kept.contains(0.0), "zero-weight rows must never be kept")
    assert(kept(1000.0) == 500L, s"capped class kept ${kept.get(1000.0)}")
    assert(kept.getOrElse(1.0, 0L) < 10, s"w=1 kept ${kept.get(1.0)}")
    // expected-size: a flat weight reduces to a plain targetFrac sample
    val flat = Sampling.weightedSample(
      wdocs.withColumn("w", lit(1.0)), "doc_id", col("w"), 0.25)
    val n = flat.count()
    assert(math.abs(n - 500L) < 60, s"flat-weight kept $n of 2000 at 25%")
    // deterministic under repartitioning
    val again = Sampling.weightedSample(wdocs.repartition(11), "doc_id",
      col("w"), 0.25)
    assert(Sampling.weightedSample(wdocs, "doc_id", col("w"), 0.25)
      .select("doc_id").except(again.select("doc_id")).isEmpty)
    // null weights clamp to 0 (never kept), not NULL-propagate to kept
    val withNull = Sampling.weightedSample(
      wdocs.withColumn("w", when(col("doc_id") <= 1000, col("w"))),
      "doc_id", col("w"), 0.25)
    assert(withNull.filter(col("doc_id") > 1000).count() == 0)
  }

  test("weightedFilter on a profile equals weightedSample (streaming split)") {
    import spark.implicits._
    val wdocs = (1L to 500L).map(i => (i, (i % 7).toDouble))
      .toDF("doc_id", "w")
    val profile = Sampling.weightedProfile(wdocs, col("w"), 0.3)
    val viaFilter = Sampling.weightedFilter(wdocs, "doc_id", col("w"), profile)
    val direct = Sampling.weightedSample(wdocs, "doc_id", col("w"), 0.3)
    assert(viaFilter.select("doc_id").except(direct.select("doc_id")).isEmpty)
    assert(direct.select("doc_id").except(viaFilter.select("doc_id")).isEmpty)
  }

  test("quotaSample: exactly n per stratum, keep-all when under-filled") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 110).map(i => (i.toLong, "small")) ++
      (111 to 113).map(i => (i.toLong, null: String)))
      .toDF("doc_id", "src")
    val got = Sampling.quotaSample(df, "src", "doc_id", 20)
    val bySrc = got.groupBy("src").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(bySrc == Map(Some("big") -> 20L, Some("small") -> 10L,
      None -> 3L))
  }

  test("quotaSample is layout-stable and salt-sensitive") {
    val df = (1 to 200).map(i => (i.toLong, s"s${i % 3}")).toDF("doc_id", "src")
    def ids(d: org.apache.spark.sql.DataFrame, salt: String) =
      Sampling.quotaSample(d, "src", "doc_id", 15, salt)
        .select("doc_id").as[Long].collect().toSet
    val base = ids(df, "quota")
    assert(ids(df.repartition(13), "quota") == base)
    assert(ids(df, "quota2") != base)
    assert(base.size == 45)
  }

  test("quotaSampleRankSelect == quotaSample row for row (giant stratum arm)") {
    // one giant stratum (the case the kernel exists for), two normal,
    // one under-filled, one null — and few buckets so boundary buckets
    // hold many rows and the threshold bucket's local sort is exercised
    val df = ((1 to 3000).map(i => (i.toLong, "giant")) ++
      (3001 to 3100).map(i => (i.toLong, "a")) ++
      (3101 to 3200).map(i => (i.toLong, "b")) ++
      (3201 to 3210).map(i => (i.toLong, "small")) ++
      (3211 to 3215).map(i => (i.toLong, null: String)))
      .toDF("doc_id", "src")
    for (n <- Seq(1, 25, 99); bk <- Seq(8, 1024)) {
      val window = Sampling.quotaSample(df, "src", "doc_id", n)
        .select("doc_id").as[Long].collect().toSet
      val kernel = Sampling.quotaSampleRankSelect(df, "src", "doc_id", n,
          buckets = bk)
        .select("doc_id").as[Long].collect().toSet
      assert(kernel == window, s"mismatch at n=$n buckets=$bk")
    }
  }
}
