package graft.operators

import graft.SparkSuite

class DedupSpec extends SparkSuite {
  import spark.implicits._

  // doc 1 == doc 2 (exact dup); doc 3 is a near-dup of 1 (one word
  // changed); doc 4 is unrelated.
  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox leaps over the lazy dog again and again"),
    (4L, "completely different content with no overlap whatsoever here now"))
    .toDF("doc_id", "text")

  test("operators yield empty results on an empty corpus") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      docs.schema)
    assert(Dedup.exact(empty, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccard(empty, "doc_id", "text", 3, 1, 2).count() == 0)
    assert(Dedup.minhashLsh(empty, "doc_id", "text", 3, 1, 2).count() == 0)
    // clusters: sum(cluster_id) over zero rows is NULL — the scalar
    // convergence fetch must not NPE
    val emptyIds = Seq.empty[Long].toDF("doc_id")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(emptyIds, "doc_id", emptyPairs).count() == 0)
  }

  test("cluster resolution rejects non-integral id columns") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException](
      Dedup.clusters(Seq("a", "b").toDF("doc_id"), "doc_id", emptyPairs))
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 3)
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("ngram Jaccard finds exact and near dups, skips unrelated") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash LSH finds the exact dup pair (identical signatures)") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, 1, 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash: identical docs at Hamming 0") {
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("hamming"))
      .toMap
    assert(pairs((1L, 2L)) == 0L)
  }

  test("xxhash fast path finds the same pair set as the md5 oracle path") {
    val md5Pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val xxPairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(xxPairs == md5Pairs && md5Pairs.nonEmpty)
  }

  test("minhash signature is k stable columns") {
    val sig = Dedup.minhashSignatures(
      Dedup.shingleSets(docs, "doc_id", "text", 3))
    assert(sig.columns.toSeq ==
      "doc_id" +: (0 until Dedup.MinhashK).map(i => s"mh_$i"))
    // identical docs -> identical signatures
    val rows = sig.filter("doc_id IN (1, 2)").drop("doc_id").collect()
    assert(rows(0) == rows(1))
  }

  test("cluster resolution labels transitive components with the min id") {
    // chain 1-2, 2-5 (transitive: 5 never paired with 1 directly),
    // isolated pair 7-9, singleton 8
    val ids = Seq(1L, 2L, 5L, 7L, 8L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(ids, "doc_id", pairs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 8L, 9L -> 7L))
  }

  test("cluster resolution converges on a long chain within maxIters") {
    val n = 12
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(ids, "doc_id", pairs, maxIters = 15)
      .collect().map(r => r.getAs[Long]("cluster_id")).distinct
    assert(out.toSeq == Seq(1L))
  }

  // VERDICT r9 #1: a chain component's diameter exceeds any constant
  // round bound, which hash-min propagation silently mislabeled before.
  test("diameter > maxIters chain: hash-min raises, star contraction converges") {
    val n = 41L // diameter 40 ≫ the hash-min default of 10 rounds
    val ids = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // (a) the old path now FLAGS the split instead of returning it
    val e = intercept[IllegalStateException](
      Dedup.clustersHashMin(ids, "doc_id", pairs, maxIters = 10).collect())
    assert(e.getMessage.contains("did not converge"))
    // (b) the star path fully converges well inside O(log n) rounds
    val out = Dedup.clusters(ids, "doc_id", pairs, maxIters = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(out.length == n && out.forall(_._2 == 1L))
  }

  test("hash-min reference path matches star labels on a shallow graph") {
    val ids = Seq(1L, 2L, 5L, 7L, 8L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    def labelMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labelMap(Dedup.clustersHashMin(ids, "doc_id", pairs)) ==
      labelMap(Dedup.clusters(ids, "doc_id", pairs)))
  }

  test("star contraction handles duplicate, reversed, and self pairs") {
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 2L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clusters(ids, "doc_id", pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("dup passages: shared 8-token passage marked as one span, removal hash exact") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val fillA1 = "one two three four five six"
    val fillA2 = "seven eight nine ten eleven"
    val corpus = Seq(
      (1L, s"$fillA1 $passage $fillA2"),
      (2L, s"red green blue $passage yellow purple orange pink brown"),
      (3L, "totally unrelated words with nothing repeated anywhere around here today"))
      .toDF("doc_id", "text")
    val out = Dedup.dupPassages(corpus, "doc_id", "text", 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    val a = out(1L)
    // grams fully inside the passage cover exactly its 8 tokens
    assert(a.getAs[Long]("dup_tokens") == 8L)
    assert(a.getAs[Long]("n_spans") == 1L)
    assert(a.getAs[Long]("n_tokens") == 19L)
    val expectedKept = org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.lit(s"$fillA1 $fillA2"))
    val expectedHash = corpus.sparkSession.range(1)
      .select(expectedKept.as("h")).head.getString(0)
    assert(a.getAs[String]("keep_hash") == expectedHash)
  }

  test("dup passages: identical docs are fully covered and hash to empty content") {
    val corpus = Seq(
      (1L, "mirror copy of this exact sentence here"),
      (2L, "mirror copy of this exact sentence here"))
      .toDF("doc_id", "text")
    val out = Dedup.dupPassages(corpus, "doc_id", "text", 5).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") == r.getAs[Long]("n_tokens"))
      assert(r.getAs[Double]("dup_frac") == 1.0)
      // md5 of the empty string: every token was inside a dup span
      assert(r.getAs[String]("keep_hash") == "d41d8cd98f00b204e9800998ecf8427e")
    }
  }

  test("dup passages: 100k-token doc with 90% duplication stays linear") {
    // adversarial shape for the span-removal step: the old
    // filter+array_contains was O(n_tokens * dup_tokens) per doc —
    // ~9e9 comparisons here, a straggler task measured in hours. The
    // array_except mask is O(n) and this completes in seconds.
    val shared = (0 until 90000).map(i => s"s$i").mkString(" ")
    val docA = ((0 until 5000).map(i => s"a$i") ++ Seq(shared) ++
      (5000 until 10000).map(i => s"a$i")).mkString(" ")
    val docB = ((0 until 5000).map(i => s"b$i") ++ Seq(shared) ++
      (5000 until 10000).map(i => s"b$i")).mkString(" ")
    val corpus = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val out = Dedup.dupPassages(corpus, "doc_id", "text", 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    for (r <- out.values) {
      assert(r.getAs[Long]("n_tokens") == 100000L)
      assert(r.getAs[Long]("dup_tokens") == 90000L)
      assert(r.getAs[Long]("n_spans") == 1L)
      assert(r.getAs[Double]("dup_frac") == 0.9)
    }
    // removal keeps exactly the per-doc unique tokens, in order
    val expected = corpus.sparkSession.range(1)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.lit(
          (0 until 10000).map(i => s"a$i").mkString(" "))).as("h"))
      .head.getString(0)
    assert(out(1L).getAs[String]("keep_hash") == expected)
  }

  test("incremental dedup classifies incoming docs against the corpus only") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val existing = Seq(
      (1L, base),
      (2L, "an unrelated existing document about completely other things entirely"),
      (3L, base)) // corpus's own dup
      .toDF("doc_id", "text")
    val incoming = Seq(
      // byte-identical to docs 1/3 -> dup_exact, match = min id 1
      (10L, base),
      // one token appended to a 40-token doc: 38 of 39 grams shared ->
      // jaccard ~0.97, so the band join recalls it deterministically
      (11L, base + " appended"),
      // nothing like the corpus -> new
      (12L, "completely fresh material with novel vocabulary throughout entire body"))
      .toDF("doc_id", "text")
    val out = Dedup.incremental(existing, incoming, "doc_id", "text", 3, 1, 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("match_id")))))
      .toMap
    assert(out(10L) == (("dup_exact", Some(1L))))
    assert(out(11L) == (("near_dup", Some(1L))))
    assert(out(12L) == (("new", None)))
    assert(out.size == 3)
  }

  test("lsh recall gate: exact dups land in bucket 10 fully recalled; totals reconcile") {
    val out = Dedup.lshRecall(docs, "doc_id", "text", 3, 1, 2).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_true"), r.getAs[Long]("n_hit"),
          r.getAs[Double]("recall")))).toMap
    // identical docs share every shingle -> every minhash -> every
    // band: bucket 10 recall is deterministic 1.0
    assert(out(10L) == ((1L, 1L, 1.0)))
    // buckets start at the tau floor (j >= 1/2 -> floor(10j) >= 5)
    assert(out.keys.forall(b => b >= 5L && b <= 10L))
    // hits never exceed truth, and totals reconcile with the two chains
    assert(out.values.forall { case (t, h, _) => h <= t })
    val truthPairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1, 2).count()
    val lshPairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, 1, 2).count()
    assert(out.values.map(_._1).sum == truthPairs)
    assert(out.values.map(_._2).sum == lshPairs,
      "every verified LSH pair is also a truth pair (verification uses the same threshold)")
  }

  test("lsh recall gate: mid-jaccard pairs sit on the S-curve (partial recall)") {
    // 60 disjoint pairs at EXACTLY j = 0.5: A = x1..x7 S1..S16,
    // B = S1..S16 y1..y7 -> 21 shingles each, 14 shared,
    // j = 14/28 = 0.5, bucket 5. Band-hit probability at j=0.5 is
    // 1-(1-0.5^4)^4 ~ 0.23, so with 60 pairs the (deterministic,
    // fixed-permutation) recall is strictly between 0 and 1 — the
    // regime the gate exists to measure, unreachable from the
    // high-jaccard dup corpus.
    val corpus = (0 until 60).flatMap { i =>
      val s = (1 to 16).map(k => s"s${i}_$k").mkString(" ")
      Seq((i * 2L, (1 to 7).map(k => s"x${i}_$k").mkString(" ") + " " + s),
        (i * 2L + 1, s + " " + (1 to 7).map(k => s"y${i}_$k").mkString(" ")))
    }.toDF("doc_id", "text")
    val out = Dedup.lshRecall(corpus, "doc_id", "text", 3, 1, 2).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("bucket") == 5L)
    assert(r.getAs[Long]("n_true") == 60L)
    val hits = r.getAs[Long]("n_hit")
    assert(hits > 0L && hits < 60L,
      s"expected partial recall at j=0.5, got $hits/60")
  }

  test("lsh recall gate: capped truth path matches the uncapped on a cap-free corpus") {
    // maxDf larger than any shingle's df -> identical truth set either way
    val capped = Dedup.lshRecall(docs, "doc_id", "text", 3, 1, 2, maxDf = 100L)
      .collect().map(_.toSeq).toSeq
    val uncapped = Dedup.lshRecall(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(_.toSeq).toSeq
    assert(capped == uncapped)
  }

  test("simhash recall gate: 3-band recall is total at Hamming <= 2 by pigeonhole") {
    // near-identical docs (one token changed) produce low-Hamming
    // simhash pairs; with 3 bands and <= 2 differing bits at least one
    // 10-bit band is untouched, so those rows MUST read recall 1.0
    val corpus = (0 until 30).flatMap { i =>
      val base = (1 to 25).map(k => s"w${i}_$k")
      Seq((i * 2L, base.mkString(" ")),
        (i * 2L + 1, base.updated(12, s"CHANGED_$i").mkString(" ")))
    }.toDF("doc_id", "text")
    val out = Dedup.simhashRecall(corpus, "doc_id", "text").collect()
    out.filter(_.getAs[Long]("hamming") <= 2).foreach { r =>
      assert(r.getAs[Double]("recall") == 1.0,
        s"hamming=${r.getAs[Long]("hamming")} must be fully recalled by 3 bands")
    }
    // identical-pair sanity: hamming 0 present with full recall
    val h0 = out.find(_.getAs[Long]("hamming") == 0L)
    assert(h0.isEmpty || h0.get.getAs[Double]("recall") == 1.0)
    assert(out.forall(r => r.getAs[Long]("n_hit") <= r.getAs[Long]("n_true")))
  }

  test("simhash recall gate truth arm equals the exact pair set of the banded operator") {
    // the 5x6 truth arm is pigeonhole-exact: its pair count per
    // hamming must equal the unguarded 3-band operator's UNION with
    // anything it misses — cross-check totals against
    // bandedHammingPairs at 5 bands directly
    val corpus = docs
    val viaGate = Dedup.simhashRecall(corpus, "doc_id", "text")
      .agg(org.apache.spark.sql.functions.sum("n_true")).head.getLong(0)
    val sims = Dedup.simhashes(corpus, "doc_id", "text")
    val direct = Dedup.bandedHammingPairs(sims, "doc_id", "simhash",
      30, 5, 3).count()
    assert(viaGate == direct)
  }

  test("dup clean at threshold: only spans >= L removed; threshold-n equals dupPassages") {
    val longPassage = (1 to 10).map(i => s"L$i").mkString(" ") // 10 tokens
    val shortPassage = "s1 s2 s3 s4 s5" // exactly one 5-gram
    val corpus = Seq(
      (1L, s"a1 a2 $longPassage a3 $shortPassage a4"),
      (2L, s"b1 $longPassage b2 b3 $shortPassage b4 b5"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15 c16"))
      .toDF("doc_id", "text")
    // L=8: the 10-token passage goes, the 5-token one stays
    val out = Dedup.dupCleanAtThreshold(corpus, "doc_id", "text", 5, 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L).getAs[Long]("removed_tokens") == 10L)
    assert(out(1L).getAs[Long]("n_spans_removed") == 1L)
    val expected1 = corpus.sparkSession.range(1)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.lit(
          s"a1 a2 a3 $shortPassage a4")).as("h")).head.getString(0)
    assert(out(1L).getAs[String]("keep_hash") == expected1)
    // L=n (minimum legal threshold): every dup span qualifies, so the
    // cleaned hashes must equal dupPassages' keep_hash exactly
    val atN = Dedup.dupCleanAtThreshold(corpus, "doc_id", "text", 5, 5)
      .select("doc_id", "keep_hash").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val d7 = Dedup.dupPassages(corpus, "doc_id", "text", 5)
      .select("doc_id", "keep_hash").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(atN == d7)
  }

  test("decontamination scrub: eval-overlapping long spans go, short overlaps and clean docs stay") {
    val evalPassage = (1 to 10).map(i => s"E$i").mkString(" ")
    val shortShared = "F1 F2 F3 F4 F5"
    val train = Seq(
      (1L, s"t1 t2 $evalPassage t3 $shortShared t4"), // long span scrubbed, short kept
      (2L, "clean document with entirely original content never seen in eval data"),
      (3L, s"u1 u2 u3 $shortShared u4 u5 u6 u7 u8")) // only the short overlap -> untouched
      .toDF("doc_id", "text")
    val evalc = Seq(
      (100L, s"e1 $evalPassage e2 e3 e4"),
      (101L, s"e5 e6 $shortShared e7 e8 e9"))
      .toDF("doc_id", "text")
    val out = Dedup.scrubContamination(train, evalc, "doc_id", "text", 5, 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // only doc 1 carries a qualifying (>= 8 token) eval span
    assert(out.keySet == Set(1L))
    assert(out(1L).getAs[Long]("removed_tokens") == 10L)
    assert(out(1L).getAs[Long]("n_spans_removed") == 1L)
    val expected = train.sparkSession.range(1)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.lit(
          s"t1 t2 t3 $shortShared t4")).as("h")).head.getString(0)
    assert(out(1L).getAs[String]("keep_hash") == expected)
  }

  test("scrub attribution: per-suite blame, shared spans count for both suites") {
    val p1 = (1 to 10).map(i => s"A$i").mkString(" ") // suite sA only
    val p2 = (1 to 9).map(i => s"B$i").mkString(" ")  // suite sB only
    val p3 = (1 to 8).map(i => s"C$i").mkString(" ")  // in BOTH suites
    val train = Seq(
      (1L, s"t1 t2 $p1 t3"),
      (2L, s"u1 $p2 u2 u3"),
      (3L, s"v1 v2 v3 $p3 v4")).toDF("doc_id", "text")
    val evalc = Seq(
      (100L, s"e1 $p1 e2 $p3 e3", "sA"),
      (101L, s"f1 $p2 f2 $p3 f3", "sB")).toDF("doc_id", "text", "source")
    val att = Dedup.scrubAttribution(train, evalc, "doc_id", "text",
        "source", 5, minSpanLen = 8)
      .collect().map(r => r.getAs[String]("suite") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("attributed_tokens"))).toMap
    // sA blames doc 1 (10 tokens of p1) + doc 3 (8 tokens of p3);
    // sB blames doc 2 (9) + doc 3 (8) — p3 counts for BOTH
    assert(att == Map("sA" -> ((2L, 18L)), "sB" -> ((2L, 17L))))
    // sanity vs the global scrub: sum over suites >= removed total
    val removed = Dedup.scrubContamination(train,
        evalc.select("doc_id", "text"), "doc_id", "text", 5, 8)
      .agg(org.apache.spark.sql.functions.sum("removed_tokens"))
      .head().getLong(0)
    assert(removed == 27L)
    assert(att.values.map(_._2).sum >= removed)
  }

  test("scrub attribution: no qualifying spans -> empty report") {
    val train = Seq((1L, "wholly original training text with no overlap at all"))
      .toDF("doc_id", "text")
    val evalc = Seq((100L, "completely different evaluation content", "sA"))
      .toDF("doc_id", "text", "source")
    assert(Dedup.scrubAttribution(train, evalc, "doc_id", "text",
      "source", 5, minSpanLen = 8).count() == 0)
  }

  test("sizedGramSide flips broadcast -> sort-merge exactly at the conf cap") {
    // the SURVEY §28.6 broadcast guard: the eval gram side must be an
    // EXPLICIT hint both ways — estimates cannot be trusted across an
    // explode (see Dedup.GramBroadcastMaxRows scaladoc)
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint, SHUFFLE_MERGE}
    def hintOf(rows: Long) =
      Dedup.sizedGramSide(spark.range(rows).toDF("sh"))
        .queryExecution.analyzed.collect { case h: ResolvedHint => h.hints.strategy }
    assert(Dedup.GramBroadcastMaxRows == 1000000L)
    assert(hintOf(Dedup.GramBroadcastMaxRows) == Seq(Some(BROADCAST)), "cap is inclusive")
    assert(hintOf(Dedup.GramBroadcastMaxRows + 1) == Seq(Some(SHUFFLE_MERGE)))
    // end to end: a tiny eval gram side broadcasts into the semi join
    val passage = (1 to 10).map(i => s"G$i").mkString(" ")
    val train = Seq((1L, s"t1 t2 $passage t3")).toDF("doc_id", "text")
    val evalc = Seq((100L, s"e1 $passage e2")).toDF("doc_id", "text")
    val df = Dedup.scrubContamination(train, evalc, "doc_id", "text", 5, 8)
    df.collect() // finalize THIS queryExecution's adaptive plan
    val semi = "(BroadcastHashJoin|SortMergeJoin)[^\\n]*LeftSemi".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSeq.distinct
    assert(semi == Seq("BroadcastHashJoin"))
  }

  test("decontamination scrub: repeats WITHIN train never trigger removal") {
    // two train docs share a long passage absent from eval — the
    // dedup operators' concern, not decontamination's; output empty
    val p = (1 to 12).map(i => s"P$i").mkString(" ")
    val train = Seq((1L, s"a1 $p a2"), (2L, s"b1 b2 $p b3")).toDF("doc_id", "text")
    val evalc = Seq((100L, "entirely unrelated evaluation content here right now today"))
      .toDF("doc_id", "text")
    assert(Dedup.scrubContamination(train, evalc, "doc_id", "text", 5, 8)
      .count() == 0)
  }

  test("keepCanonical: longest wins its cluster, exact ties to smallest id, singletons keep themselves") {
    val corpus = Seq(
      (1L, "short doc"), (2L, "the longer document wins"), // cluster {1,2,3}
      (3L, "middling length"),
      (10L, "same text"), (11L, "same text"), // cluster {10,11}: tie -> 10
      (20L, "a singleton"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.keepCanonical(corpus, "doc_id",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")), pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Long]("keep_id"), r.getAs[Long]("is_kept"))).toMap
    assert(out.size == 6)
    assert(out(1L) == (1L, 3L, 2L, 0L))
    assert(out(2L) == (1L, 3L, 2L, 1L))
    assert(out(3L) == (1L, 3L, 2L, 0L))
    assert(out(10L) == (10L, 2L, 10L, 1L))
    assert(out(11L) == (10L, 2L, 10L, 0L))
    assert(out(20L) == (20L, 1L, 20L, 1L))
    // exactly one survivor per cluster
    assert(out.values.groupBy(_._1).values
      .forall(c => c.count(_._4 == 1L) == 1))
  }

  test("keepCanonical: tie-break survives extreme negative ids (bitwise-NOT, not negation)") {
    // -id overflows on Long.MinValue (-MinValue == MinValue) and
    // would invert the tie order; ~id is a monotone-decreasing
    // bijection, so the smallest id still wins an exact-quality tie
    val corpus = Seq(
      (Long.MinValue, "same text"), (Long.MinValue + 1, "same text"))
      .toDF("doc_id", "text")
    val pairs = Seq((Long.MinValue, Long.MinValue + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.keepCanonical(corpus, "doc_id",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")), pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keep_id"), r.getAs[Long]("is_kept"))).toMap
    assert(out(Long.MinValue) == (Long.MinValue, 1L))
    assert(out(Long.MinValue + 1) == (Long.MinValue, 0L))
  }

  test("keepCanonical: fractional quality is rejected loudly, not silently truncated") {
    // a learned [0,1] score cast to long collapses to all-ties and the
    // id becomes the de-facto keep rule — refuse instead and tell the
    // caller to scale to integer micros
    val corpus = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](
      Dedup.keepCanonical(corpus, "doc_id",
        org.apache.spark.sql.functions.rand(7), pairs))
    assert(e.getMessage.contains("integral quality"))
  }

  test("simhashRecall: truthMaxBucket caps the truth arm (documented recall-of-truth loss)") {
    // five byte-identical docs: every band bucket has width 5, so a
    // truth cap of 2 drops them all — the gate's worst case is now
    // bounded at the cost of losing hot-bucket truth pairs
    val corpus = (1L to 5L).map(i =>
      (i, "the exact same document text repeated verbatim here"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashRecall(corpus, "doc_id", "text", maxHamming = 2)
      .agg(org.apache.spark.sql.functions.sum("n_true")).head.getLong(0) == 10L)
    assert(Dedup.simhashRecall(corpus, "doc_id", "text", maxHamming = 2,
      truthMaxBucket = 2).count() == 0L)
  }

  test("dup clean: threshold below n is rejected") {
    intercept[IllegalArgumentException](
      Dedup.dupCleanAtThreshold(docs, "doc_id", "text", 5, 4))
  }

  test("dup substrings: one shared passage -> one distribution row, one identity") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, s"one two three four five six $passage seven eight nine"),
      (2L, s"red green blue $passage yellow purple orange pink brown"),
      (3L, "totally unrelated words with nothing repeated anywhere around here today"))
      .toDF("doc_id", "text")
    val out = Dedup.dupSubstrings(corpus, "doc_id", "text", 5).collect()
    assert(out.length == 1)
    val r = out.head
    // both docs carry ONE maximal 8-token span; same content -> one
    // distinct substring identity
    assert(r.getAs[Long]("span_len") == 8L)
    assert(r.getAs[Long]("n_spans") == 2L)
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("n_substrings") == 1L)
  }

  test("dup substrings: spans are MAXIMAL — a partial carrier gets the shorter span") {
    val p = (1 to 10).map(i => s"p$i").mkString(" ") // 10-token passage
    val prefix7 = (1 to 7).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (1L, s"fillA1 fillA2 fillA3 $p tailA1 tailA2"),
      (2L, s"fillB1 fillB2 $p tailB1 tailB2 tailB3"),
      (3L, s"fillC1 fillC2 fillC3 fillC4 $prefix7 tailC1 tailC2"))
      .toDF("doc_id", "text")
    val rows = Dedup.dupSubstrings(corpus, "doc_id", "text", 5).collect()
      .map(r => r.getAs[Long]("span_len") -> r).toMap
    assert(rows.keySet == Set(7L, 10L))
    // docs 1/2 hold the full 10-token passage as ONE maximal span (the
    // overlapping 5-gram hits merge); doc 3 holds only its 7-token
    // prefix, a distinct (shorter) substring identity
    assert(rows(10L).getAs[Long]("n_spans") == 2L)
    assert(rows(10L).getAs[Long]("n_docs") == 2L)
    assert(rows(10L).getAs[Long]("n_substrings") == 1L)
    assert(rows(7L).getAs[Long]("n_spans") == 1L)
    assert(rows(7L).getAs[Long]("n_docs") == 1L)
    assert(rows(7L).getAs[Long]("n_substrings") == 1L)
  }

  test("dup substrings: distribution totals reconcile with dupPassages per-doc aggregates") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, s"one two three four five $passage six seven eight"),
      (2L, s"$passage red green blue yellow purple orange"),
      (3L, "mirror copy of this exact sentence here and there"),
      (4L, "mirror copy of this exact sentence here and there"))
      .toDF("doc_id", "text")
    val dist = Dedup.dupSubstrings(corpus, "doc_id", "text", 5).collect()
    val perDoc = Dedup.dupPassages(corpus, "doc_id", "text", 5).collect()
    val distTokens = dist.map(r =>
      r.getAs[Long]("span_len") * r.getAs[Long]("n_spans")).sum
    val distSpans = dist.map(_.getAs[Long]("n_spans")).sum
    assert(distTokens == perDoc.map(_.getAs[Long]("dup_tokens")).sum)
    assert(distSpans == perDoc.map(_.getAs[Long]("n_spans")).sum)
  }

  test("dup substrings by: facet splits the report, gram test stays corpus-global") {
    val p = (1 to 8).map(i => s"s$i").mkString(" ")
    // the shared passage occurs once per SOURCE — within either source
    // alone it would not repeat, so a per-facet gram test would find
    // nothing; the corpus-global test credits both facets
    val corpus = Seq(
      (1L, s"a1 a2 a3 $p a4 a5", "crawl"),
      (2L, s"b1 b2 $p b3 b4 b5", "books"))
      .toDF("doc_id", "text", "source")
    val by = Dedup.dupSubstringsBy(corpus, "doc_id", "text", "source", 5)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(by.keySet == Set("crawl", "books"))
    for (src <- Seq("crawl", "books")) {
      assert(by(src).getAs[Long]("span_len") == 8L)
      assert(by(src).getAs[Long]("n_spans") == 1L)
      assert(by(src).getAs[Long]("n_docs") == 1L)
      assert(by(src).getAs[Long]("n_substrings") == 1L)
    }
    // facet totals reconcile with the global distribution
    val global = Dedup.dupSubstrings(corpus, "doc_id", "text", 5).collect()
    assert(global.map(_.getAs[Long]("n_spans")).sum ==
      by.values.map(_.getAs[Long]("n_spans")).sum)
  }

  test("dup substrings: empty and no-overlap corpora yield no rows") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      docs.schema)
    assert(Dedup.dupSubstrings(empty, "doc_id", "text", 5).count() == 0)
    val distinctCorpus = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "hh ii jj kk ll mm nn"))
      .toDF("doc_id", "text")
    assert(Dedup.dupSubstrings(distinctCorpus, "doc_id", "text", 5).count() == 0)
  }

  test("dup passages: empty corpus and no-overlap corpus yield no rows") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      docs.schema)
    assert(Dedup.dupPassages(empty, "doc_id", "text", 5).count() == 0)
    val distinctCorpus = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "hh ii jj kk ll mm nn"))
      .toDF("doc_id", "text")
    assert(Dedup.dupPassages(distinctCorpus, "doc_id", "text", 5).count() == 0)
  }

  // a stop-phrase-skewed corpus: 40 docs dominated by the same
  // 20-token block (each perm's min pins to the block -> whole-band
  // bucket domination), plus one planted near-dup pair of unrelated
  // content whose band buckets stay width 2
  private def skewedCorpus = {
    val block = (0 until 20).map(i => s"stop$i").mkString(" ")
    val carriers = (0 until 40).map(i => (10L + i, s"$block unique$i"))
    val planted = Seq(
      (900L, "zebra yak xenon walrus violet umber topaz sienna russet"),
      (901L, "zebra yak xenon walrus violet umber topaz sienna ochre"))
    (carriers ++ planted).toDF("doc_id", "text")
  }

  test("lsh explicit cap drops the block-dominated buckets and keeps " +
      "the planted near-dup") {
    val corpus = skewedCorpus
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val uncapped = pairSet(
      Dedup.minhashLsh(corpus, "doc_id", "text", 3, 1, 2))
    val capped = pairSet(
      Dedup.minhashLsh(corpus, "doc_id", "text", 3, 1, 2, maxBucket = 10))
    assert(capped.contains((900L, 901L)))
    assert(capped.subsetOf(uncapped) && capped.size < uncapped.size)
  }

  test("maxBucket below the AutoBucket sentinel is rejected loudly") {
    // no negative value has a meaning, -1 included
    for (bad <- Seq(-1L, -2L)) {
      intercept[IllegalArgumentException](
        Dedup.minhashLsh(docs, "doc_id", "text", 3, 1, 2, maxBucket = bad))
      intercept[IllegalArgumentException](
        Dedup.bandedHammingPairs(Seq((1L, 7L)).toDF("doc_id", "h"),
          "doc_id", "h", 30, 5, 1, maxBucket = bad))
      intercept[IllegalArgumentException](
        Dedup.simhashNearDup(docs, "doc_id", "text", 3, maxBucket = bad))
    }
  }
}
