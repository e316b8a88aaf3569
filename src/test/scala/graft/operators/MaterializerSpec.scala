package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** The materialization seam must be RESULT-INVISIBLE: both strategies
  * (executor-local checkpoint, none) produce identical rows from the
  * dedup operators they back — the strategy only chooses whether the
  * index is stored once or recomputed per consumer.
  */
class MaterializerSpec extends SparkSuite {
  import spark.implicits._

  private def corpus: DataFrame = {
    // near-dup structure: (i, i+30) differ by one token (rare-shingle
    // candidates), every doc shares a boilerplate footer (hot shingles
    // above the df cap — exercises the capped path's hot add-back)
    (0L until 60L).map { i =>
      val base = i % 30
      val toks = (0 until 30).map { k =>
        if (i >= 30 && k == 17) s"changed$i" else s"d${base}w$k"
      }
      (i, toks.mkString(" ") + " the common boilerplate footer phrase")
    }.toDF("doc_id", "text")
  }

  private def runAll(): Map[String, Seq[String]] = {
    val df = corpus
    def dump(out: DataFrame, cols: String*): Seq[String] =
      out.select(cols.head, cols.tail: _*).collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    val pairs = Dedup.minhashLsh(df, "doc_id", "text", 3, 7L, 10L)
    Map(
      "ngram_capped" -> dump(
        Dedup.ngramJaccard(df, "doc_id", "text", 3, 7L, 10L, maxDf = 5),
        "doc_a", "doc_b", "shared", "n_a", "n_b"),
      "minhash" -> dump(pairs, "doc_a", "doc_b", "shared"),
      "clusters" -> dump(
        Dedup.clusters(df, "doc_id", pairs.select("doc_a", "doc_b")),
        "doc_id", "cluster_id"),
      "dup_passages" -> dump(
        Dedup.dupPassages(df, "doc_id", "text", 3),
        "doc_id", "n_spans", "dup_tokens", "keep_hash"),
      "simhash" -> dump(
        Dedup.simhashNearDup(df, "doc_id", "text", 3, maxBucket = 40),
        "doc_a", "doc_b", "hamming"),
      "incremental" -> dump(
        Dedup.incremental(df.filter($"doc_id" < 40), df.filter($"doc_id" >= 40),
          "doc_id", "text", 3, 7L, 10L),
        "doc_id", "status", "match_id"))
  }

  test("every strategy yields identical dedup results") {
    val baseline = runAll() // default: local
    spark.conf.set(Materializer.ConfKey, "lazy")
    try {
      val got = runAll()
      assert(got.keySet == baseline.keySet)
      for ((k, v) <- baseline)
        assert(got(k) == v, s"strategy lazy diverged on $k")
    } finally spark.conf.unset(Materializer.ConfKey)
  }

  test("unknown strategy fails loudly at the seam") {
    // the removed modes are unknown too: only local and lazy remain
    for (strategy <- Seq("replicate-3x", "local-lazy", "reliable", "table:/x")) {
      spark.conf.set(Materializer.ConfKey, strategy)
      try intercept[IllegalArgumentException](Materializer.of(spark))
      finally spark.conf.unset(Materializer.ConfKey)
    }
  }

  test("results are non-trivial (the equivalence test has teeth)") {
    val r = runAll()
    assert(r("minhash").nonEmpty)
    assert(r("clusters").nonEmpty)
    assert(r("ngram_capped").nonEmpty)
  }
}
