package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSuite

/** Property-based checks for the deterministic kernels whose contracts
  * are algebraic (order statistics, permutations, idempotence) — the
  * places where an example-based spec can miss a boundary the
  * generator finds (duplicates, ties, degenerate sizes, odd unicode).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def check(p: Prop, n: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  test("ewmaRate fold equals an independent sequential recurrence") {
    // random sparse (hour -> count) maps, incl. empty hours and long
    // gaps; the operator's distributed fold must equal a plain Scala
    // loop running s = s/2 + n over the dense ascending spine
    val gen = for {
      nHours <- Gen.chooseNum(1, 30)
      counts <- Gen.listOfN(nHours, Gen.chooseNum(0L, 1000L))
    } yield counts
    check(Prop.forAll(gen) { counts =>
      val windowHours = counts.length
      // one event row per count unit would explode; use hour offsets
      // with a synthetic host and MANY rows compressed via repetition
      // only for small counts — cap at 40 rows/hour for test speed
      val capped = counts.map(c => math.min(c, 40L))
      val hourUs = 3600L * 1000000L
      val anchor = 1700000000000000L
      val rows = capped.zipWithIndex.flatMap { case (n, h) =>
        Seq.fill(n.toInt)(("10.7.7.7",
          anchor + h * hourUs + 1L))
      } :+ (("10.7.7.7", anchor + (windowHours - 1) * hourUs + 2L))
      // the appended row anchors max(ts) in the newest hour; include
      // it in the expected fold (hour index windowHours-1)
      val expectedCounts = capped.updated(windowHours - 1,
        capped(windowHours - 1) + 1)
      val df = rows.toDF("host", "hus")
        .select(col("host"), expr("timestamp_micros(hus)").as("ts"))
      val got = Baseline.ewmaRate(df, "host", "ts", windowHours, 24)
        .head
      val expected = expectedCounts.foldLeft(0L)((s, n) => s / 2 + n)
      got.getAs[Long]("ewma_rate") == expected &&
        got.getAs[Long]("n_events") == expectedCounts.sum
    }, 10)
  }

  test("globalRowNumber is the exact sort permutation on arbitrary multisets") {
    // random value multisets (heavy ties by construction: values drawn
    // from a small domain), random bucket counts incl. the minimum —
    // the device must reproduce row_number over (v desc, id) exactly
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      domain <- Gen.chooseNum(1L, 12L)
      vals <- Gen.listOfN(n, Gen.chooseNum(-domain, domain))
      buckets <- Gen.oneOf(2, 3, 16, 1024)
    } yield (vals, buckets)
    check(Prop.forAll(gen) { case (vals, buckets) =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "s").repartition(4)
      val got = RankSelect.globalRowNumber(df, "s", "rk",
          descending = true, tieBreak = Seq("id"), buckets = buckets)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rk")).toMap
      val expected = vals.zipWithIndex
        .sortBy { case (v, i) => (-v, i) }
        .zipWithIndex.map { case ((_, i), rk) => i.toLong -> (rk + 1L) }
        .toMap
      got == expected
    }, 15)
  }

  test("keySkew buckets equal independent integer log2 arithmetic") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(1, 200))
    check(Prop.forAll(gen) { sizes =>
      val rows = sizes.zipWithIndex.flatMap { case (n, k) =>
        Seq.fill(n)((s"k$k", 1))
      }
      val got = Profiling.keySkew(rows.toDF("k", "v"), "k")
        .orderBy("bucket")
        .as[(Int, Long, Long, Long)].collect().toSeq
      val expected = sizes.map(_.toLong)
        .groupBy(n => 63 - java.lang.Long.numberOfLeadingZeros(n))
        .toSeq.sortBy(_._1)
        .map { case (b, ns) => (b.toInt, ns.size.toLong, ns.sum, ns.max) }
      got == expected
    }, 10)
  }

  test("PCM WAV fast path equals AudioSystem decode on random sample data") {
    // the example-based differential covers the synthesis ramps; this
    // one feeds arbitrary 16-bit sample content and rates
    val gen = for {
      n <- Gen.chooseNum(1, 500)
      rate <- Gen.oneOf(8000, 11025, 16000, 44100)
      samples <- Gen.listOfN(n, Gen.chooseNum(-32768, 32767))
    } yield (rate, samples)
    check(Prop.forAll(gen) { case (rate, samples) =>
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (v, i) =>
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        AudioFileFormat.Type.WAVE, out)
      val bytes = out.toByteArray
      val fast = Multimodal.decodePcmWavFast(7L, bytes)
      fast.isDefined && fast.get == Multimodal.decodeAudioGeneral(7L, bytes)
    }, 20)
  }

  test("rankSelect returns the exact order statistic, duplicates and all") {
    val gen = for {
      vals <- Gen.nonEmptyListOf(Gen.chooseNum(-50L, 50L)) // dense -> many ties
      num <- Gen.chooseNum(1L, 100L)
    } yield (vals, num)
    check(Prop.forAll(gen) { case (vals, num) =>
      val den = 100L
      val df = vals.map(v => ("k", v)).toDF("key", "v")
      val row = Baseline.rankSelect(df, "key", "v", num, den).head
      val sorted = vals.sorted
      val n = vals.length
      val idx = sorted.indices.find(i => (i + 1) * den >= num * n).get
      row.getAs[Long]("sel") == sorted(idx) && row.getAs[Long]("n") == n.toLong
    }, 15)
  }

  test("RankSelect bucket-offset kernel equals sorted order statistics for arbitrary populations") {
    val gen = for {
      vals <- Gen.nonEmptyListOf(Gen.oneOf(
        Gen.chooseNum(-5.0, 5.0),              // continuous spread
        Gen.chooseNum(-3L, 3L).map(_.toDouble) // dense ties
      ))
      buckets <- Gen.oneOf(2, 7, 64)
    } yield (vals, buckets)
    check(Prop.forAll(gen) { case (vals, buckets) =>
      val df = vals.map(v => ("k", v)).toDF("g", "v").repartition(3)
      val row = RankSelect.quantiles(df, "g", "v",
        Seq(("p50", 1L, 2L), ("p99", 99L, 100L)), buckets,
        countCol = Some("n")).head
      val sorted = vals.sorted
      val n = vals.length
      def pick(num: Long, den: Long) =
        sorted(sorted.indices.find(i => (i + 1) * den >= num * n).get)
      row.getAs[Double]("p50") == pick(1, 2) &&
        row.getAs[Double]("p99") == pick(99, 100) &&
        row.getAs[Long]("n") == n.toLong
    }, 15)
  }

  test("normalize is idempotent on arbitrary text") {
    val charGen = Gen.frequency(
      (6, Gen.alphaNumChar),
      (2, Gen.oneOf(' ', '\t', '\n', ' ')),
      (1, Gen.oneOf('', '', '')),
      (1, Gen.oneOf('—', '–', 'É', 'ß', '中')))
    val docGen = Gen.listOf(charGen).map(_.mkString)
    check(Prop.forAll(Gen.listOfN(40, docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("id"), TextAnalysis.normalize(col("text")).as("n1"))
        .select(col("id"), col("n1"),
          TextAnalysis.normalize(col("n1")).as("n2"))
      df.collect().forall(r => r.getString(1) == r.getString(2))
    }, 5)
  }

  test("deterministicShuffle is a 0..n-1 permutation for arbitrary id sets") {
    val idsGen = Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))
      .map(_.distinct)
    check(Prop.forAll(idsGen) { ids =>
      val ranks = Sampling.deterministicShuffle(ids.toDF("doc_id"), "doc_id")
        .collect().map(_.getAs[Long]("shuffle_rank")).sorted
      ranks.toSeq == (0L until ids.length.toLong)
    }, 10)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def up(x: Double, scale: Int): Double =
    BigDecimal.decimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("lineDedup matches an independent implementation on random corpora") {
    // few distinct line strings -> heavy cross-doc duplication; blanks
    // and whitespace-variant lines exercise the trim/never-drop rules
    val lineGen = Gen.oneOf("alpha", "beta x", " beta x ", "gamma", "", "  ", "δ δ")
    val docGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, lineGen))
      .map(_.mkString("\n"))
    check(Prop.forAll(Gen.choose(1, 8).flatMap(Gen.listOfN(_, docGen))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val minDocs = 2L
      val hot = docs
        .flatMap { case (id, t) => t.split("\n", -1).map(l => (id, l.trim)) }
        .filter(_._2.nonEmpty).distinct
        .groupBy(_._2).filter(_._2.length >= minDocs).keySet
      val expected = docs.map { case (id, t) =>
        val lines = t.split("\n", -1)
        val kept = lines.filterNot(l => hot.contains(l.trim))
        val nd = (lines.length - kept.length).toLong
        (id, (lines.length.toLong, nd,
          up(nd.toDouble / lines.length, 4), md5Hex(kept.mkString("\n"))))
      }.toMap
      val got = TextAnalysis.lineDedup(docs.toDF("doc_id", "text"), "doc_id", "text", minDocs)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_dropped"),
            r.getAs[Double]("dup_line_frac"), r.getAs[String]("kept_hash")))).toMap
      got == expected
    }, 8)
  }

  test("tfidf matches an independent implementation on random corpora") {
    val wordGen = Gen.oneOf("a", "b", "c", "ab", "ba")
    val docGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    check(Prop.forAll(Gen.choose(1, 8).flatMap(Gen.listOfN(_, docGen))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val n = docs.length
      val tf = docs.flatMap { case (id, t) =>
        t.trim.split("\\s+").groupBy(identity).map { case (w, o) => ((id, w), o.length.toLong) }
      }.toMap
      val dfc = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
      val expected = tf.collect { case ((id, w), f) if f >= 2 && dfc(w) >= 2 =>
        val idf = up(math.log(n.toDouble / dfc(w)), 6)
        ((id, w), (f, dfc(w), idf, up(f * idf, 4)))
      }
      val got = TextAnalysis.tfidf(docs.toDF("doc_id", "text"), "doc_id", "text", 2, 2)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token")) ->
          ((r.getAs[Long]("tf"), r.getAs[Long]("df"),
            r.getAs[Double]("idf"), r.getAs[Double]("tfidf")))).toMap
      got == expected
    }, 8)
  }

  test("bigramLmScore matches an independent implementation (self-scored)") {
    val wordGen = Gen.oneOf("a", "b", "c")
    val docGen = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    check(Prop.forAll(Gen.choose(1, 6).flatMap(Gen.listOfN(_, docGen))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def bigramsOf(t: String): Seq[(String, String)] = {
        val w = t.trim.split("\\s+").toSeq
        if (w.length < 2) Nil else w.zip(w.tail)
      }
      val all = docs.flatMap { case (_, t) => bigramsOf(t) }
      val c12 = all.groupBy(identity).map { case (k, o) => k -> o.size.toLong }
      val c1 = all.groupBy(_._1).map { case (k, o) => k -> o.size.toLong }
      val expected = docs.collect { case (id, t) if bigramsOf(t).nonEmpty =>
        val micros = bigramsOf(t).map { bg =>
          val r6 = up(math.log(c12(bg).toDouble / c1(bg._1)), 6)
          BigDecimal.decimal(r6 * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }
        val s = micros.sum
        val seen = micros.length.toLong
        val m4 = math.signum(s) * ((2 * math.abs(s) + 100 * seen) / (200 * seen))
        id -> ((seen, 0L, m4 / 10000.0))
      }.toMap
      val got = TextAnalysis.bigramLmScore(
          docs.toDF("doc_id", "text"), docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_oov"),
            r.getAs[Double]("avg_logprob")))).toMap
      got == expected
    }, 8)
  }

  test("bucketOf lands in [0, buckets) for arbitrary keys and salts") {
    val gen = for {
      keys <- Gen.nonEmptyListOf(Gen.alphaNumStr)
      salt <- Gen.identifier
      buckets <- Gen.chooseNum(1, 1000)
    } yield (keys, salt, buckets)
    check(Prop.forAll(gen) { case (keys, salt, buckets) =>
      val out = keys.toDF("k")
        .select(Sampling.bucketOf(col("k"), salt, buckets).as("b"))
        .collect().map(_.getAs[Long]("b"))
      out.forall(b => b >= 0 && b < buckets)
    }, 10)
  }

  test("ksStatistic equals an independent O(n log n) two-sample scan") {
    val gen = for {
      na <- Gen.chooseNum(1, 40)
      nb <- Gen.chooseNum(1, 40)
      a <- Gen.listOfN(na, Gen.chooseNum(0, 9).map(_.toDouble))
      b <- Gen.listOfN(nb, Gen.chooseNum(0, 9).map(_.toDouble))
    } yield (a, b)
    check(Prop.forAll(gen) { case (a, b) =>
      val got = Drift.ksStatistic(
          a.map(("g", _)).toDF("grp", "v"),
          b.map(("g", _)).toDF("grp", "v"), "grp", "v")
        .select("n_a", "n_b", "d_num").as[(Long, Long, Long)].head()
      // independent: walk the sorted distinct values, tracking CDFs
      val values = (a ++ b).distinct.sorted
      val dNum = values.map { x =>
        math.abs(a.count(_ <= x).toLong * b.length -
          b.count(_ <= x).toLong * a.length)
      }.max
      got == ((a.length.toLong, b.length.toLong, dNum))
    }, 30)
  }

  test("quotaSample: exact-n per stratum for arbitrary corpora") {
    val gen = for {
      n <- Gen.chooseNum(1, 8)
      rows <- Gen.listOfN(60, Gen.zip(Gen.chooseNum(0L, 999L),
        Gen.oneOf("s1", "s2", "s3")))
    } yield (n, rows.distinctBy(_._1))
    check(Prop.forAll(gen) { case (n, rows) =>
      val got = Sampling.quotaSample(rows.toDF("id", "src"), "src", "id", n)
        .as[(Long, String)].collect()
      val bySrc = rows.groupBy(_._2).view.mapValues(_.size).toMap
      got.groupBy(_._2).forall { case (src, sel) =>
        sel.length == math.min(n, bySrc(src)) } &&
        got.toSet.subsetOf(rows.toSet)
    }, 20)
  }

  test("BPE merge fold reassembles to the word for arbitrary pairs") {
    // whatever pair is merged, concatenating the segmented symbols
    // must reproduce the original corpus words after every iteration
    val word = Gen.chooseNum(1, 10)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val gen = Gen.listOfN(12, word)
    check(Prop.forAll(gen) { words =>
      val (_, vocab) = Bpe.trainWithVocab(
        words.mkString(" ").pure, "text", merges = 3)
      vocab.as[(String, String, Long)].collect().forall {
        case (w, syms, _) => syms.replace(" ", "") == w }
    }, 15)
  }

  test("fuzzyJoin (uncapped) equals brute-force pairwise Jaccard") {
    // tiny vocabulary forces real cross-table overlap; the brute force
    // works on literal 3-gram token sequences, so hash-combination
    // bugs (coefficient order, off-by-one windows) cannot hide
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.chooseNum(1, 10)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val gen = for {
      nl <- Gen.chooseNum(0, 7); nr <- Gen.chooseNum(0, 7)
      ls <- Gen.listOfN(nl, doc); rs <- Gen.listOfN(nr, doc)
    } yield (ls, rs)
    check(Prop.forAll(gen) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val right = rs.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      val got = EntityResolution.fuzzyJoin(left, right, "doc_id", "text", 3, 1, 3)
        .select("left_id", "right_id", "shared", "n_l", "n_r")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      def sh(t: String): Set[Seq[String]] = {
        val tk = t.trim.split("\\s+").toSeq
        if (tk.length < 3) Set.empty else tk.sliding(3).map(_.toSeq).toSet
      }
      val expect = for {
        (lt, li) <- ls.zipWithIndex
        (rt, ri) <- rs.zipWithIndex
        a = sh(lt); b = sh(rt)
        shd = a.intersect(b).size
        // (den+num)*s >= num*(n_a+n_b) with num=1, den=3
        if a.nonEmpty && b.nonEmpty && 4L * shd >= (a.size + b.size)
      } yield (li.toLong, 100L + ri, shd.toLong, a.size.toLong, b.size.toLong)
      got == expect.toSet
    }, 15)
  }

  test("ngramJaccard and fuzzyJoin count every pair's full overlap, capped or not") {
    // num/den = 1/3. A cap of 2 makes the shingles of the shared
    // boilerplate prefix (and the common ones of this 5-word
    // vocabulary) hot, so pairs that also share a rare shingle need the
    // exact hot add-back
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val doc = for {
      pre <- Gen.oneOf("", "xx yy zz ")
      n <- Gen.chooseNum(1, 9); ws <- Gen.listOfN(n, word)
    } yield pre + ws.mkString(" ")
    val gen = for {
      nl <- Gen.chooseNum(0, 7); nr <- Gen.chooseNum(0, 7)
      ls <- Gen.listOfN(nl, doc); rs <- Gen.listOfN(nr, doc)
    } yield (ls, rs)
    def sh(t: String): Set[Seq[String]] = {
      val tk = t.trim.split("\\s+").toSeq
      if (tk.length < 3) Set.empty else tk.sliding(3).map(_.toSeq).toSet
    }
    // brute force: (id_a, id_b) -> (|A∩B|, |A|, |B|) over all pairs
    def brute(as: Seq[(Long, String)], bs: Seq[(Long, String)],
        keep: (Long, Long) => Boolean) = (for {
      (ia, ta) <- as; (ib, tb) <- bs if keep(ia, ib)
      a = sh(ta); b = sh(tb) if a.nonEmpty && b.nonEmpty
    } yield (ia, ib) -> ((a.intersect(b).size.toLong, a.size.toLong,
      b.size.toLong))).toMap
    def passes(c: (Long, Long, Long)) = 4L * c._1 >= c._2 + c._3
    // every emitted pair is exact; uncapped emits exactly the passing set
    def agrees(got: Map[(Long, Long), (Long, Long, Long)],
        truth: Map[(Long, Long), (Long, Long, Long)], maxDf: Long) =
      got.forall { case (p, c) => truth.get(p).contains(c) && passes(c) } &&
        (maxDf > 0 || got.keySet == truth.filter(t => passes(t._2)).keySet)
    check(Prop.forAll(gen) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val right = rs.zipWithIndex.map { case (t, i) => (100L + i, t) }
      Seq(0L, 2L).forall { maxDf =>
        val self = Dedup.ngramJaccard(left.toDF("doc_id", "text"),
            "doc_id", "text", 3, 1, 3, maxDf = maxDf)
          .select("doc_a", "doc_b", "shared", "n_a", "n_b")
          .as[(Long, Long, Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
        val two = EntityResolution.fuzzyJoin(left.toDF("doc_id", "text"),
            right.toDF("doc_id", "text"), "doc_id", "text", 3, 1, 3,
            maxDf = maxDf)
          .select("left_id", "right_id", "shared", "n_l", "n_r")
          .as[(Long, Long, Long, Long, Long)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
        agrees(self, brute(left, left, _ < _), maxDf) &&
          agrees(two, brute(left, right, (_, _) => true), maxDf)
      }
    }, 10)
  }

  test("cusum closed form equals the sequential recurrence for arbitrary series") {
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      xs <- Gen.listOfN(n, Gen.chooseNum(0L, 20L))
      k <- Gen.chooseNum(0L, 10L)
    } yield (xs, k)
    check(Prop.forAll(gen) { case (xs, k) =>
      val df = xs.zipWithIndex.map { case (x, i) => ("g", i.toLong, x) }
        .toDF("key", "bucket", "x")
      val got = Changepoint.cusumSeries(df, "key", "bucket", "x", k, 5L)
        .orderBy("bucket").select("cusum").as[Long].collect().toSeq
      got == xs.scanLeft(0L)((s, x) => math.max(0L, s + x - k)).tail
    }, 20)
  }

  test("chunk layout tiles [1, n] with stride-spaced starts and no gaps") {
    val gen = for {
      n <- Gen.chooseNum(1, 80)
      w <- Gen.chooseNum(1, 20)
      s <- Gen.chooseNum(1, w)
    } yield (n, w, s)
    check(Prop.forAll(gen) { case (n, w, s) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val out = Packing.chunk(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", w, s)
        .orderBy("chunk_id")
        .select("chunk_id", "token_start", "chunk_tokens")
        .as[(Long, Long, Long)].collect().toSeq
      val covered = out.flatMap { case (_, st, len) => st until (st + len) }.toSet
      out.zipWithIndex.forall { case ((cid, st, len), i) =>
        cid == i && st == 1 + i.toLong * s && len >= 1 && len <= w } &&
        covered == (1L to n.toLong).toSet &&
        out.last._2 + out.last._3 - 1 == n.toLong
    }, 20)
  }

  private implicit class PureText(s: String) {
    def pure: org.apache.spark.sql.DataFrame = Seq(s).toDF("text")
  }
}
