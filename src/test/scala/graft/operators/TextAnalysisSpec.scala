package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSuite

class TextAnalysisSpec extends SparkSuite {
  import spark.implicits._

  test("textStats computes exact ratios") {
    val docs = Seq((1L, "the cat sat on a mat!")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Long]("n_distinct") == 6L)
    // tokens: the(3) cat(3) sat(3) on(2) a(1) mat!(4) -> 16/6
    assert(r.getAs[Double]("avg_token_len") == 2.6667)
    assert(r.getAs[Double]("stop_ratio") == 0.3333) // the, a
    assert(r.getAs[Double]("punct_ratio") == math.rint(1.0 / 21.0 * 1e4) / 1e4)
    assert(r.getAs[Double]("upper_ratio") == 0.0)
  }

  test("langId prediction is the argmax bucket with deterministic ties") {
    val docs = Seq((1L, "alpha beta gamma delta", "en")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(docs, "doc_id", "text", "lang").collect()
    assert(out.length == 1)
    val r = out.head
    assert(TextAnalysis.Langs.contains(r.getAs[String]("pred_lang")))
    assert(r.getAs[Double]("confidence") > 0.0)
  }

  test("tokenCounts splits BPE-ish subwords") {
    val docs = Seq(("s1", "ab12cd ef!")).toDF("source", "text")
    val r = TextAnalysis.tokenCounts(docs, "source", "text").collect().head
    assert(r.getAs[Long]("ws_tokens") == 2L)
    // ab / 12 / cd / ef / ! -> 5
    assert(r.getAs[Long]("bpe_tokens") == 5L)
  }

  test("fingerprint is order-sensitive (anagram docs differ)") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),
      (3L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fp")).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
  }

  test("repetition flags the degenerate doc and passes the varied one") {
    val docs = Seq(
      (1L, "spam spam spam spam ham"),          // top token 4/5
      (2L, "one two three four five six"),      // all distinct
      (3L, "a b a b a b a b"))                  // dup 2-grams
      .toDF("doc_id", "text")
    val m = TextAnalysis.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Boolean]("is_repetitive"))
    assert(m(1L).getAs[Double]("top_token_frac") == 0.8)
    assert(!m(2L).getAs[Boolean]("is_repetitive"))
    assert(m(2L).getAs[Double]("dup_2gram_frac") == 0.0)
    // "a b a b a b a b": 7 2-grams, 2 distinct -> 5/7
    assert(m(3L).getAs[Double]("dup_2gram_frac") == math.rint(5.0 / 7.0 * 1e4) / 1e4)
    assert(m(3L).getAs[Long]("top_n") == 4L)
  }

  test("repetition kernel matches a driver-side reference on random docs") {
    // differential gate for the codegen'd single-pass kernel that
    // replaced the higher-order-function chains
    val rng = new scala.util.Random(99)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "g", "hh")
    val docs = (1L to 60L).map { id =>
      val n = 3 + rng.nextInt(40)
      (id, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val got = TextAnalysis.repetition(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("top_n"), r.getAs[Double]("dup_2gram_frac"),
          r.getAs[Double]("dup_3gram_frac"))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").toSeq
      val top = toks.groupBy(identity).values.map(_.size).max.toLong
      def frac(n: Int): Double = {
        val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
        // Spark round() is HALF_UP over BigDecimal.valueOf — mirror it
        java.math.BigDecimal.valueOf(
            (grams.size - grams.distinct.size).toDouble / grams.size)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      }
      assert(got(id) == ((top, frac(2), frac(3))), s"doc $id: '$text'")
    }
  }

  test("repetition drops docs shorter than 3 tokens") {
    val docs = Seq((1L, "one two"), (2L, "x y z")).toDF("doc_id", "text")
    assert(TextAnalysis.repetition(docs, "doc_id", "text").count() == 1L)
  }

  test("piiScrub counts and redacts emails, IPs, long numbers in order") {
    val docs = Seq(
      (1L, "mail bob.smith@corp.example.com from 10.1.2.34 ref 1234567 ok"),
      (2L, "clean text with short 123 number"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.piiScrub(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Long]("n_email") == 1L)
    assert(m(1L).getAs[Long]("n_ipv4") == 1L)
    assert(m(1L).getAs[Long]("n_longnum") == 1L)
    assert(m(1L).getAs[String]("redacted") ==
      "mail <EMAIL> from <IP> ref <NUM> ok")
    assert(m(2L).getAs[Long]("n_email") == 0L)
    assert(m(2L).getAs[String]("redacted") == "clean text with short 123 number")
  }

  test("linear scorer: exact mean of integer token weights, stable under repartition") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "alpha alpha"), (2L, "alpha beta gamma"), (3L, ""))
      .toDF("doc_id", "text")
    // reference weight of a single token, computed through the same
    // hash the operator uses
    def w(tok: String): Long = spark.range(1)
      .select((graft.functions.Hashing.md5Long60(lit(tok)) % 2001L - 1000L).as("w"))
      .head.getLong(0)
    val out = TextAnalysis.linearScore(docs, "doc_id", "text", 0.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 3 ("" -> one empty token after split) still scores; no doc drops
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L).getAs[Double]("score") ==
      math.rint(w("alpha") / 1000.0 * 1e6) / 1e6)
    val expected2 = (w("alpha") + w("beta") + w("gamma")) / (3 * 1000.0)
    assert(math.abs(out(2L).getAs[Double]("score") - expected2) < 1e-6)
    val repart = TextAnalysis.linearScore(docs.repartition(5), "doc_id", "text", 0.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(out.forall { case (id, r) => repart(id) == r.getAs[Double]("score") })
  }

  test("url domains: host extraction, registrable-domain reduction, blocklist") {
    val docs = Seq(
      (1L, "read https://a.news.example/story and https://b.news.example/x too"),
      (2L, "mirror at http://cdn.files.net/y plus https://c.news.example"),
      (3L, "no links here at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.urlDomains(docs, "doc_id", "text", Seq("files.net"))
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    assert(out.keySet == Set("news.example", "files.net"))
    val news = out("news.example")
    assert(news.getAs[Long]("n_urls") == 3L)
    assert(news.getAs[Long]("n_docs") == 2L)
    assert(!news.getAs[Boolean]("blocked"))
    assert(out("files.net").getAs[Boolean]("blocked"))
  }

  test("linear scorer: same plumbing, stable, exact bounds") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "one two")).toDF("doc_id", "text")
    val out = TextAnalysis.linearScore(docs, "doc_id", "text", 0.0)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // weights live in [-1000, 1000] -> mean score in [-1, 1]
    assert(rows.values.forall(s => s >= -1.0 && s <= 1.0))
    // deterministic under repartitioning (pure map, hash-only state)
    val again = TextAnalysis.linearScore(docs.repartition(5), "doc_id", "text", 0.0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(again == rows)
  }

  test("normalize canonicalizes case, dashes, control chars, and whitespace") {
    val out = Seq((1L, "  Mixed\tCASE text—with–dashes and  runs  "))
      .toDF("doc_id", "text")
      .select(TextAnalysis.normalize(col("text")).as("n"))
      .head.getString(0)
    assert(out == "mixed case text-with-dashes and runs")
    // idempotent: normalizing a normalized string is a no-op
    val again = Seq(Tuple1(out)).toDF("text")
      .select(TextAnalysis.normalize(col("text")).as("n")).head.getString(0)
    assert(again == out)
  }

  test("vocabulary ranks by count desc then token, honors minCount") {
    val docs = Seq(
      (1L, "b b b a a c unique"),
      (2L, "a b c c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(docs, "text", minCount = 2)
      .collect().map(r => (r.getAs[String]("token"),
        r.getAs[Long]("n"), r.getAs[Long]("token_id")))
    // b:4 a:3 c:3 (count desc, token asc); 'unique' filtered by minCount
    assert(out.sortBy(_._3).toSeq ==
      Seq(("b", 4L, 0L), ("a", 3L, 1L), ("c", 3L, 2L)))
  }

  test("url domains: public-suffix aware registrable domains") {
    val docs = Seq(
      // both hosts register under co.uk -> one registrable domain
      (1L, "see https://www.bbc.co.uk/news and https://news.bbc.co.uk/x"),
      // 2-label suffix com.au, deep host
      (2L, "buy https://shop.example.com.au/item now"),
      // a host that IS a public suffix has no registrable domain
      (3L, "bare https://co.uk/ suffix-only host"),
      // 3-label suffix act.edu.au beats the 2-label edu.au match
      (4L, "deep https://a.b.act.edu.au/page"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.urlDomains(docs, "doc_id", "text", Nil)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    assert(out.keySet == Set("bbc.co.uk", "example.com.au", "b.act.edu.au"))
    assert(out("bbc.co.uk").getAs[Long]("n_urls") == 2L)
    assert(out("bbc.co.uk").getAs[Long]("n_docs") == 1L)
  }

  test("url domains full PSL: wildcard, multi-label wildcard, and exception rules") {
    // the bundled list parses to the committed rule-kind counts
    // (scripts/psl_refresh.py reports the same numbers; a refreshed
    // snapshot updates BOTH or this gate flags the drift)
    val rules = Psl.default
    assert(rules.exact.values.map(_.size).sum == 7911)
    assert(rules.wildcardBases.values.map(_.size).sum == 107)
    assert(rules.exceptions.values.map(_.size).sum == 8)
    assert(rules.maxRuleLabels == 5)
    val docs = Seq(
      // *.ck: beta7.ck is a public suffix -> registrable alpha.beta7.ck
      (1L, "w https://alpha.beta7.ck/z"),
      // a bare <label>.ck IS a public suffix under the wildcard: drop
      (2L, "bare https://solo.ck/"),
      // !www.ck exception: registrable is www.ck itself, however deep
      (3L, "img https://img.www.ck/i and https://www.ck/root"),
      // *.kawasaki.jp (multi-label base): shop.kawasaki.jp is public ->
      // registrable v.shop.kawasaki.jp, the PROPER suffix of the host
      (4L, "deep https://w.v.shop.kawasaki.jp/x"),
      // !city.kawasaki.jp exception inside the same wildcard family
      (5L, "city https://a.city.kawasaki.jp/p"),
      // ordinary exact rule from the full list, unchanged behavior
      (6L, "uk https://news.bbc.co.uk/s"),
      // host EQUAL to the multi-label wildcard base: *.kawasaki.jp has
      // no label to match, so the wildcard does NOT apply and the host
      // resolves via the default rule to ITSELF (not dropped)
      (7L, "barewb https://kawasaki.jp/q"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.urlDomainsPsl(docs, "doc_id", "text", Nil)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    assert(out.keySet == Set("alpha.beta7.ck", "www.ck",
      "v.shop.kawasaki.jp", "city.kawasaki.jp", "bbc.co.uk", "kawasaki.jp"))
    assert(out("www.ck").getAs[Long]("n_urls") == 2L)
    assert(out("kawasaki.jp").getAs[Long]("n_urls") == 1L)
  }

  test("url domains: trailing-dot hosts normalize; single-label hosts drop") {
    val docs = Seq(
      // root-qualified host — legal URL syntax, same registrable domain
      (1L, "see https://a.news.example./story for more"),
      // single-label hosts have no registrable domain: must not pool
      // under a bogus empty-string group
      (2L, "local http://localhost/admin and https://intranet/x"),
      (3L, "normal https://b.news.example/y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.urlDomains(docs, "doc_id", "text", Nil)
      .collect().map(r => r.getAs[String]("domain") -> r).toMap
    assert(out.keySet == Set("news.example"))
    assert(out("news.example").getAs[Long]("n_urls") == 2L)
    assert(out("news.example").getAs[Long]("n_docs") == 2L)
  }

  test("tfidf: integer-thresholded membership, hand-checked scores") {
    val docs = Seq(
      (1L, "cat cat dog"),
      (2L, "cat cat cat fish fish"),
      (3L, "dog dog bird"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text", minTf = 2, minDf = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token")) -> r).toMap
    // fish (df=1), single-occurrence dog/bird (tf=1) are excluded by
    // the integer thresholds; floats never decide membership
    assert(out.keySet == Set((1L, "cat"), (2L, "cat"), (3L, "dog")))
    val idf32 = math.rint(math.log(3.0 / 2) * 1e6) / 1e6 // ln(3/2) @ round-6
    assert(out((1L, "cat")).getAs[Long]("tf") == 2L)
    assert(out((1L, "cat")).getAs[Long]("df") == 2L)
    assert(out((1L, "cat")).getAs[Double]("idf") == idf32)
    assert(out((1L, "cat")).getAs[Double]("tfidf") == math.rint(2 * idf32 * 1e4) / 1e4)
    assert(out((2L, "cat")).getAs[Double]("tfidf") == math.rint(3 * idf32 * 1e4) / 1e4)
  }

  test("lineDedup drops cross-doc boilerplate, keeps order, hashes cleaned doc") {
    val docs = Seq(
      (1L, "nav bar\nunique one\nfooter"),
      (2L, "nav bar\nunique two\nfooter"),
      (3L, "only original\nlines here"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.lineDedup(docs, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Long]("n_lines") == 3L)
    assert(m(1L).getAs[Long]("n_dropped") == 2L) // nav bar + footer
    assert(m(3L).getAs[Long]("n_dropped") == 0L)
    // doc 1's cleaned content is exactly its unique line
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(m(1L).getAs[String]("kept_hash") == h("unique one"))
    assert(m(3L).getAs[String]("kept_hash") == h("only original\nlines here"))
  }

  test("lineDedup: whitespace-variant lines match; blank lines never drop") {
    val docs = Seq(
      (1L, "  same line \nkeep a\n\nx"),
      (2L, "same line\nkeep b\n\nx"),
      (3L, "unrelated\n"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.lineDedup(docs, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // "same line" matches across its trim variants; "x" is shared too;
    // the EMPTY line appears in all three docs but must never drop
    assert(m(1L).getAs[Long]("n_dropped") == 2L)
    assert(m(2L).getAs[Long]("n_dropped") == 2L)
    assert(m(3L).getAs[Long]("n_dropped") == 0L)
    assert(m(3L).getAs[Long]("n_lines") == 2L) // "unrelated", ""
  }

  test("lineDedup: an all-boilerplate doc hashes to the empty string") {
    val docs = Seq((1L, "a\nb"), (2L, "a\nb")).toDF("doc_id", "text")
    val m = TextAnalysis.lineDedup(docs, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(m(1L).getAs[String]("kept_hash") == emptyMd5)
    assert(m(1L).getAs[Double]("dup_line_frac") == 1.0)
  }

  test("bigramLmScore: MLE probabilities, exact hand-computed mean") {
    // train: "a b" x3, "a c" x1 -> P(b|a)=3/4, P(c|a)=1/4
    val train = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    val score = Seq((10L, "a b"), (11L, "a c"), (12L, "a b a c"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.bigramLmScore(train, score, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // mirror the operator's integer arithmetic: micro log-probs, exact
    // long sum, half-away-from-zero mean in 1e-4 units, one division
    def micro(x: Double) = math.rint(math.rint(x * 1e6) / 1e6 * 1e6).toLong
    def mean4(micros: Seq[Long]): Double = {
      val s = micros.sum
      val seen = micros.length.toLong
      val m4 = math.signum(s) * ((2 * math.abs(s) + 100 * seen) / (200 * seen))
      m4 / 10000.0
    }
    val lpB = micro(math.log(3.0 / 4)) // seen 3 of 4 'a _' bigrams
    val lpC = micro(math.log(1.0 / 4))
    assert(m(10L).getAs[Double]("avg_logprob") == mean4(Seq(lpB)))
    assert(m(11L).getAs[Double]("avg_logprob") == mean4(Seq(lpC)))
    assert(m(10L).getAs[Long]("n_oov") == 0L)
    // "a b a c": bigrams (a,b),(b,a),(a,c); (b,a) unseen -> OOV,
    // excluded from the mean's denominator
    assert(m(12L).getAs[Long]("n_bigrams") == 3L)
    assert(m(12L).getAs[Long]("n_oov") == 1L)
    assert(m(12L).getAs[Double]("avg_logprob") == mean4(Seq(lpB, lpC)))
  }

  test("bigramLmScore: repetitive docs outscore varied ones (the ppl cut)") {
    val corpus = Seq(
      (1L, "a b a b a b"), // bigrams the model considers likely
      (2L, "a b a b"),
      (3L, "a c"))          // 'c' after 'a' is rare: P(c|a) = 1/6
      .toDF("doc_id", "text")
    val m = TextAnalysis.bigramLmScore(corpus, corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the fluent doc's bigrams are the model's bulk; the rare
    // continuation scores far below — the perplexity-cut ordering
    assert(m(1L).getAs[Double]("avg_logprob") > m(3L).getAs[Double]("avg_logprob"))
    assert(m.values.forall(_.getAs[Long]("n_oov") == 0L))
  }

  test("tfidf: df counts documents (not occurrences) and honors minDf=1") {
    val docs = Seq((1L, "x x y"), (2L, "x x x")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text", minTf = 2, minDf = 1)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token")) -> r).toMap
    // x appears 5 times across 2 docs but df is the DOC count, 2
    assert(out((1L, "x")).getAs[Long]("df") == 2L)
    // idf = ln(2/2) = 0 -> score 0 for a term in every doc
    assert(out((1L, "x")).getAs[Double]("tfidf") == 0.0)
    assert(!out.contains((1L, "y"))) // tf=1 < minTf
  }

  private def extract(html: String): String =
    TextAnalysis.htmlExtract(
        Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html")
      .collect().head.getAs[String]("text")

  test("htmlExtract strips blocks whose content would corrupt tag stripping") {
    // raw <, > and && inside script/style must vanish with the block
    assert(extract(
      "<body><script>if (a < b && c > d) {}</script>hello</body>") == "hello")
    assert(extract("<style>p > a { x: 1 }</style>kept") == "kept")
    assert(extract("<head><title>t</title><script>1<2</script></head><body>b</body>") == "b")
  }

  test("htmlExtract decodes entities with &amp; last (the order contract)") {
    // &amp;lt; is the TEXT "&lt;", not a <
    assert(extract("<p>&amp;lt;</p>") == "&lt;")
    assert(extract("<p>&amp; &lt;x&gt; &quot;y&quot; &#39;z&#39;</p>") ==
      "& <x> \"y\" 'z'")
  }

  test("htmlExtract collapses whitespace across tag boundaries and lines") {
    assert(extract("<div>\n  a\n  <span>b</span>\n\tc\n</div>") == "a b c")
    assert(extract("") == "")
    assert(extract("plain text no tags") == "plain text no tags")
  }

  test("htmlExtract recovers the closed-form ground truth from the synthesized shell") {
    val docs = Seq((7L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = TextAnalysis.htmlExtract(
        TextAnalysis.synthesizeHtml(docs, "doc_id", "text"), "doc_id", "html")
      .collect().head
    assert(out.getAs[String]("text") == "Doc 7 alpha beta gamma & <tag> \"q'")
    assert(out.getAs[Long]("n_chars") == 34L)
  }

  test("charSanity counts corruption markers and formatting whitespace correctly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean ascii text 42!"),
      (2L, "tab\tand\nnewline are fine"),           // formatting, clean
      (3L, "bell\u0007and null\u0000inside"),        // control chars
      (4L, "broken � decode � here"),      // replacement chars
      (5L, "café résumé"),            // legit non-ASCII
      (6L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charSanity(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select($"doc_id", $"n_chars", $"n_non_ascii", $"n_digit",
        $"n_control", $"n_replacement", $"non_ascii_ratio", $"is_clean")
      .as[(Long, Long, Long, Long, Long, Long, Double, Int)]
      .collect().toSeq
    assert(got == Seq(
      (1L, 20L, 0L, 2L, 0L, 0L, 0.0, 1),
      (2L, 24L, 0L, 0L, 0L, 0L, 0.0, 1),
      (3L, 20L, 0L, 0L, 2L, 0L, 0.0, 0),
      (4L, 22L, 2L, 0L, 0L, 2L, math.rint(2.0 / 22 * 1e6) / 1e6, 0),
      (5L, 11L, 3L, 0L, 0L, 0L, math.rint(3.0 / 11 * 1e6) / 1e6, 1),
      (6L, 0L, 0L, 0L, 0L, 0L, 0.0, 1)))
  }

  test("collocations: lift from hand-counted pairs") {
    // corpus: "new york" always adjacent (3x), "the cat"/"the dog"
    // mixed; N = 4+5+4 = 13 tokens, M = 3+4+3 = 10 bigrams
    val docs = Seq(
      (1L, "new york new york"),
      (2L, "the cat saw the dog"),
      (3L, "new york the cat")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minPairCount = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // pairs >= 2: (new, york) n_ab=3, (york, new)=1 (below floor),
    // (the, cat)=2
    assert(got.keySet == Set(("new", "york"), ("the", "cat")))
    val (_, _, nAb, nA, nB, lift) = got(("new", "york"))
    assert((nAb, nA, nB) == (3L, 3L, 3L))
    // lift = 3 * 13^2 / (10 * 3 * 3) = 507/90
    assert(lift == math.rint(3.0 * 13 * 13 / (10.0 * 3 * 3) * 1e6) / 1e6)
    val (_, _, nAb2, nA2, nB2, lift2) = got(("the", "cat"))
    assert((nAb2, nA2, nB2) == (2L, 3L, 2L))
    assert(lift2 == math.rint(2.0 * 13 * 13 / (10.0 * 3 * 2) * 1e6) / 1e6)
  }

  test("tokenEntropy: hand-computed ladder values, uniform and skewed") {
    val docs = Seq(
      ("u", "a b c d"),          // uniform: 4 types, 4 tokens
      ("s", "a a a a a a a b"),  // skewed: 8 tokens, 7xa 1xb
      ("1", "x x x")             // single type: H = 0, norm NULL
    ).toDF("source", "text")
    val got = TextAnalysis.tokenEntropy(docs, "source", "text")
      .as[(String, Long, Long, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    def lnm(x: Long): Long =
      math.round(math.rint(math.log(x.toDouble) * 1e6) / 1e6 * 1e6)
    // uniform: every c = 1, lnm(1) = 0 -> H = lnm(4)*4/(4e6)
    val (_, nu, tu, hu, nmu) = got("u")
    assert((nu, tu) == (4L, 4L))
    assert(hu == math.rint(lnm(4L) * 4.0 / 4e6 * 1e6) / 1e6)
    assert(math.abs(nmu.get - 1.0) < 1e-5)
    // skewed: num = lnm(8)*8 - 7*lnm(7)
    val (_, ns, ts, hs, _) = got("s")
    assert((ns, ts) == (8L, 2L))
    val num = lnm(8L) * 8L - 7L * lnm(7L)
    assert(hs == math.rint(num.toDouble / 8e6 * 1e6) / 1e6)
    // single type: exactly zero entropy, no normalized value
    val (_, n1, t1, h1, nm1) = got("1")
    assert((n1, t1, h1, nm1) == (3L, 1L, 0.0, None))
  }

  test("tokenEntropy: order- and partition-free (exact integer sums)") {
    val docs = (0 until 60).map(i =>
      (s"g${i % 2}", s"tok${i % 7} tok${i % 5} tok${i % 3}"))
    val a = TextAnalysis.tokenEntropy(docs.toDF("source", "text"),
        "source", "text")
      .as[(String, Long, Long, Double, Option[Double])].collect().toSet
    val b = TextAnalysis.tokenEntropy(
        docs.reverse.toDF("source", "text").repartition(13),
        "source", "text")
      .as[(String, Long, Long, Double, Option[Double])].collect().toSet
    assert(a == b)
  }

  test("readability: hand-counted Flesch components") {
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),   // 6 words, 2 sentences
      (2L, "no terminator here"),          // 0 sentences -> floor 1
      (3L, "aeiou xyz")                    // syllable groups: 1 + 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    def flesch(w: Long, s: Long, syl: Long): Double = {
      val s1 = math.max(s, 1L)
      BigDecimal(206.835 - 1.015 * (w.toDouble / s1) -
          84.6 * (syl.toDouble / w))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (_, w1, s1, y1, _, _, f1) = got(1L)
    // syllables: e/a/a/e/o/a -> "The"=1 "cat"=1 "sat"=1 "The"=1
    // "dog"=1 "ran"=1 = 6
    assert((w1, s1, y1) == (6L, 2L, 6L))
    assert(f1.get == flesch(6L, 2L, 6L))
    val (_, w2, s2, y2, wps2, _, f2) = got(2L)
    assert((w2, s2) == (3L, 0L))
    assert(wps2.get == 3.0)  // floored divisor, flag stays in n_sentences
    assert(f2.get == flesch(3L, 0L, y2))
    val (_, w3, _, y3, _, spw3, _) = got(3L)
    // "aeiou" is ONE maximal vowel group; "xyz" contributes one via y
    assert((w3, y3) == (2L, 2L))
    assert(spw3.get == 1.0)
  }

  test("collocations: single-token and empty docs contribute no bigrams") {
    val docs = Seq((1L, "solo"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minPairCount = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    val (a, b, nAb, nA, nB, _) = got.head
    // N = 5 tokens (solo, a, b, a, b), M = 2 bigrams
    assert((a, b, nAb, nA, nB) == ("a", "b", 2L, 2L, 2L))
  }
}
