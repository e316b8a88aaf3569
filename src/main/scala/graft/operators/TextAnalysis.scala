package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Text-analysis operators for training pipelines (SURVEY.md §2.3
  * T1-T4): quality stats, language-ID, token counting, fingerprinting.
  * All scalar work is built-in functions / higher-order lambdas — fully
  * codegen'd, no UDFs, embarrassingly parallel (no shuffle except the
  * explicitly-keyed aggregations).
  */
object TextAnalysis {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")
  val Langs: Seq[String] = Seq("en", "es", "de", "fr", "zh")

  def tokens(text: Column): Column = Dedup.tokens(text)

  /** r17 opt: every operator here opens with a narrow tokenize/regex
    * pass over raw text — run it with at least the session's cores of
    * tasks (no-op on well-split scans; see
    * [[Dedup.withScanParallelism]]).
    */
  private def par(df: DataFrame): DataFrame = Dedup.withScanParallelism(df)

  /** [[par]] hash-keyed on the doc id: keeps a doc's rows co-located
    * so doc-keyed partial aggregates retain their dedup power (see
    * Dedup.withScanParallelism's keys note).
    */
  private def parBy(df: DataFrame, idCol: String): DataFrame =
    Dedup.withScanParallelism(df, Seq(col(idCol)))

  /** T1: per-document quality statistics. Ratios divide exact ints in
    * double — bit-identical to the oracle; no transcendentals (libm
    * results differ across engines).
    */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    par(df).select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("avg_token_len",
        round(expr("aggregate(toks, 0L, (a, t) -> a + length(t))") / col("n_tokens"), 4))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => t.isInCollection(Stopwords)))
          / col("n_tokens"))
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")) / length(col("text")))
      .withColumn("upper_ratio",
        length(regexp_replace(col("text"), "[^A-Z]", "")) / length(col("text")))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens") / 100.0) *
          (lit(1.0) - col("punct_ratio")) * (lit(1.0) - col("stop_ratio")), 4))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("avg_token_len"), round(col("stop_ratio"), 4).as("stop_ratio"),
        round(col("punct_ratio"), 4).as("punct_ratio"),
        round(col("upper_ratio"), 4).as("upper_ratio"), col("quality"))
  }

  /** T2: language identification by marker-token voting. Each token
    * votes for the language its hash maps to (a stand-in for a real
    * marker lexicon — deterministic so the oracle replicates it); the
    * prediction is the argmax with (count desc, bucket asc) tie-break.
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
      trueLangCol: String): DataFrame = {
    val toks = parBy(df, idCol)
      .select(col(idCol).as("doc_id"), col(trueLangCol).as("lang"),
        explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket", Hashing.md5Long60(col("tok")) % Langs.length)
    val cnt = toks.groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("c"))
    val tot = Window.partitionBy(col("doc_id"))
    val rn = Window.partitionBy(col("doc_id"))
      .orderBy(col("c").desc, col("bucket"))
    val predExpr = Langs.zipWithIndex
      .foldLeft(lit(null).cast("string")) { case (acc, (l, i)) =>
        when(col("bucket") === i, lit(l)).otherwise(acc)
      }
    cnt
      .withColumn("n_tokens", sum(col("c")).over(tot))
      .withColumn("rn", row_number().over(rn))
      .filter(col("rn") === 1)
      .select(col("doc_id"), predExpr.as("pred_lang"),
        round(col("c") / col("n_tokens"), 4).as("confidence"),
        col("lang"), (predExpr === col("lang")).as("is_match"))
  }

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punct.
    * Plain regex (the engine sees `\s` directly) — passed through
    * `lit`, never spliced into a SQL string, so no quoting level to
    * keep track of and no column-name splice hazard (ADVICE_r12/_r13:
    * `expr(s"...$col...")` breaks on names needing backticks).
    */
  val BpeRegex: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** T3: token counting per source — whitespace tokens vs BPE-ish
    * subword units.
    */
  def tokenCounts(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.select(col(groupCol).as("source"),
        size(tokens(col(textCol))).cast("long").as("ws"),
        size(regexp_extract_all(col(textCol), lit(BpeRegex), lit(0)))
          .cast("long").as("bpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        round(avg(col("bpe")), 4).as("avg_bpe_per_doc"))

  /** T4: positional rolling-hash document fingerprint — xor of each
    * token's 30-bit hash rotated by its position; order-sensitive
    * (anagram documents get different fingerprints), overflow-free.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    parBy(df, idCol).select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"),
        Hashing.h30(col("tok")).as("h"), (col("pos") % 30).as("s"))
      .select(col("doc_id"),
        expr("(shiftleft(h, s) | shiftright(h, 30 - s)) & 1073741823").as("v"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), expr("bit_xor(v)").as("fp"))

  /** T5: intra-document repetition metrics (the Gopher-style filters
    * real curation pipelines gate on): the fraction of tokens that are
    * the single most frequent token, and the duplicate-2/3-gram
    * fractions. Entirely in-row — zero shuffle, so per-row cost is
    * bounded by document length and the operator is a pure map at any
    * corpus size. The three statistics come from ONE codegen'd kernel
    * call ([[graft.functions.TextKernels.repetitionStats]]) — the
    * earlier declarative form paid six interpreted higher-order-
    * function passes per row (array_sort + run-length chain + two
    * gram transform/array_distinct pairs), all outside whole-stage
    * codegen. `__st` is a NAMED intermediate consumed three times:
    * CollapseProject keeps a non-cheap multi-referenced alias
    * materialized once (the IvfIndex.withCell lesson), so the kernel
    * runs once per row. The repetitive flag compares integer counts
    * (n*top >= thr*total), so no float boundary can disagree with the
    * oracle.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def dupFrac(n: Int, distinctN: Column): Column = {
      val total = size(col("toks")) - (n - 1)
      round((total - distinctN) / total.cast("double"), 4)
    }
    par(df).select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("__st", graft.functions.RepetitionStats.of(col("toks")))
      .withColumn("top_n", element_at(col("__st"), 1))
      .select(col("doc_id"), col("n_tokens"), col("top_n"),
        round(col("top_n") / col("n_tokens"), 4).as("top_token_frac"),
        dupFrac(2, element_at(col("__st"), 2)).as("dup_2gram_frac"),
        dupFrac(3, element_at(col("__st"), 3)).as("dup_3gram_frac"),
        // top token > 20% of the doc — integer-exact threshold
        (col("top_n") * 5 > col("n_tokens")).as("is_repetitive"))
  }

  // -------------------------------------------------------------- T6: PII
  // Patterns restricted to the syntax Java regex and RE2 share, so the
  // oracle engine applies the identical automaton. Note: on Java's
  // backtracking engine a pathological input ('a@' + 'a'*10^6, no dot)
  // degrades the email pattern to ~O(n^2); possessive quantifiers
  // would fix it but RE2 rejects them, so keep documents length-capped
  // upstream (the curation pipeline's n_chars filter) rather than
  // diverging the two engines' patterns.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val LongNumRe = "\\b[0-9]{6,}\\b"

  /** URL pattern + the capture that isolates its host. Scheme + host
    * only (query strings and paths vary too wildly for a portable
    * regex; the host is what domain policy keys on).
    */
  val UrlRe = "https?://[A-Za-z0-9.-]+"
  val UrlHostRe = "https?://([A-Za-z0-9.-]+)"

  /** Curated subset of the Public Suffix List (publicsuffix.org —
    * public data): the common multi-label suffixes under which sites
    * register one level down ("bbc.co.uk" registers under "co.uk").
    * `urlDomains` takes the list as a parameter, so a deployment ships
    * the full ~9k-entry PSL through the identical plan shape — two
    * broadcast hash joins don't care whether the build side holds 50
    * rows or 9k.
    */
  val PublicSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "act.edu.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "gob.mx", "org.mx",
    "co.in", "net.in", "org.in", "gen.in",
    "co.kr", "or.kr", "go.kr",
    "co.za", "org.za", "web.za",
    "com.sg", "com.tr", "com.ar", "com.tw", "com.hk", "com.my",
    "co.nz", "org.nz", "govt.nz")

  /** Last `n` dot-labels of `host`, or NULL when the host has fewer —
    * the oracle twin is NULLIF(regexp_extract(host, same, 1), '').
    */
  private def lastLabels(host: Column, n: Int): Column = {
    val re = s"((?:[^.]+\\.){${n - 1}}[^.]+)$$"
    val m = regexp_extract(host, re, 1)
    when(m =!= "", m)
  }

  /** T7: URL/domain analysis — the domain-policy pass of web-corpus
    * curation (C4/RefinedWeb-style: count per-domain document reach,
    * then allow/block by domain). Registrable domain = longest
    * matching public suffix plus one label (PSL semantics; default
    * rule when nothing matches = last two labels). Per domain: URL
    * mentions, distinct documents reached, and the blocklist verdict.
    *
    * Scale shape: one explode of per-doc matches, two BROADCAST left
    * joins against the suffix table (3-label suffixes, then 2-label),
    * one partial-aggregated groupBy on domain; the blocklist is a
    * literal IN — at real scale a broadcast semi/anti join against a
    * domain table.
    */
  def urlDomains(df: DataFrame, idCol: String, textCol: String,
      blocked: Seq[String],
      suffixes: Seq[String] = PublicSuffixes): DataFrame = {
    require(suffixes.forall(s => Set(1, 2).contains(s.count(_ == '.'))),
      "suffix table entries must have 2 or 3 labels")
    urlDomainsPsl(df, idCol, textCol, blocked,
      Psl.Rules(suffixes.groupBy(_.count(_ == '.') + 1), Map.empty, Map.empty))
  }

  /** T7 with FULL Public Suffix List semantics ([[Psl]]): exact rules
    * of any depth, wildcard rules ("*.ck" — any label over the base is
    * public), and exception rules ("!www.ck" — the name is itself
    * registrable). Resolution is exception-first, then longest rule,
    * then the implicit "*" default.
    *
    * Scale shape: unchanged from the curated-subset plan — one
    * BROADCAST left join per rule depth (exact depths 2..5 and
    * wildcard base depths 1..4 for the bundled list; none holds more
    * than ~5.5k short strings), exceptions as a literal when-arm (the
    * PSL has 8), then the same single domain-keyed aggregation. The
    * data rows never shuffle for the lookup.
    */
  def urlDomainsPsl(df: DataFrame, idCol: String, textCol: String,
      blocked: Seq[String],
      rules: Psl.Rules = Psl.default): DataFrame = {
    val spark = df.sparkSession
    val maxL = rules.maxRuleLabels + 1 // deepest registrable domain
    var hosts = par(df).select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlHostRe), lit(1)))
          .as("__raw_host"))
      // root-qualified hosts ("example.com.") are legal URL syntax —
      // strip trailing dots BEFORE domain extraction, or every such
      // host lands in a bogus empty-string domain group
      .withColumn("host", regexp_replace(col("__raw_host"), "\\.+$", ""))
    for (n <- 1 to maxL)
      hosts = hosts.withColumn(s"__l$n", lastLabels(col("host"), n))
    for ((d, sfx) <- rules.exact.toSeq.sortBy(_._1))
      hosts = hosts.join(
        broadcast(spark.createDataFrame(sfx.map(Tuple1.apply)).toDF(s"__sfx$d")),
        col(s"__l$d") === col(s"__sfx$d"), "left")
    for ((b, bases) <- rules.wildcardBases.toSeq.sortBy(_._1))
      hosts = hosts.join(
        broadcast(spark.createDataFrame(bases.map(Tuple1.apply)).toDF(s"__wb$b")),
        col(s"__l$b") === col(s"__wb$b"), "left")
    // exception arms first (deepest first), then rule lengths
    // descending: "longest match wins" as a fixed when-chain
    val excArms = rules.exceptions.toSeq.sortBy(-_._1).map { case (d, names) =>
      (col(s"__l$d").isInCollection(names), col(s"__l$d"))
    }
    val lengthArms = (rules.maxRuleLabels to 2 by -1).flatMap { len =>
      val legs =
        rules.exact.get(len).map(_ => col(s"__sfx$len").isNotNull).toSeq ++
        // a wildcard "*.base" matches only hosts with a label OVER the
        // base: a host EQUAL to the base (e.g. "kawasaki.jp" under
        // "*.kawasaki.jp") must fall through to shorter rules/default,
        // so the leg additionally requires depth >= base + 1
        rules.wildcardBases.get(len - 1).map(_ =>
          col(s"__wb${len - 1}").isNotNull && col(s"__l$len").isNotNull)
      legs.reduceOption(_ || _).map(cond => (cond, col(s"__l${len + 1}")))
    }
    val domain = (excArms ++ lengthArms)
      .foldLeft(Option.empty[Column]) {
        case (acc, (cond, v)) =>
          Some(acc.fold(when(cond, v))(_.when(cond, v)))
      }
      .fold(col("__l2"))(_.otherwise(col("__l2")))
    hosts.withColumn("domain", domain)
      // NULL domain = single-label host (localhost), or a host that IS
      // a public suffix — neither has a registrable domain; drop
      // rather than pool under a bogus group
      .filter(col("domain").isNotNull)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("blocked", col("domain").isInCollection(blocked))
  }

  /** T8: linear classifier scoring — the fasttext-shaped model-based
    * filtering pass (hash each token into a weight table, score = mean
    * token weight, gate on a threshold), with the weight lookup
    * replaced by a deterministic hash-derived weight in [-1, 1]: the
    * container has no model artifacts, and the PLUMBING — vocabulary
    * hashing, in-row weighted mean, threshold gate — is exactly what a
    * learned weight table drops into (swap `weightOf` for an
    * element_at into a broadcast array).
    *
    * Everything is integer arithmetic THROUGH the rounding step:
    * per-token weights are integers in [-1000, 1000], their sum is an
    * exact long, and the mean is rounded to 6 decimals as an integer
    * micro-score (half away from zero) before ONE exact IEEE division
    * by 10^6. Rounding the double quotient instead is a trap: a doc
    * whose mean lands exactly on a half boundary (e.g. -0.0648125)
    * rounds differently across engines (decimal-string half-up vs
    * binary-value nearest). Pure map: zero shuffles.
    */
  def linearScore(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // integer weight of one token: hash-derived, uniform over
    // [-1000, 1000]; md5, so the oracle computes the same weight
    def weightOf(t: Column): Column =
      Hashing.md5Long60(t) % 2001L - 1000L
    val toks = tokens(col(textCol))
    par(df).select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        aggregate(transform(col("toks"), weightOf(_)), lit(0L), (acc, x) => acc + x)
          .as("__wsum"))
      // score * 1e6 = wsum * 1000 / n_tokens, rounded half away from zero
      .withColumn("__a", abs(col("__wsum")) * 1000L)
      .withColumn("__e6",
        when(col("__wsum") < 0, -1L).otherwise(1L) *
          expr("(2 * __a + n_tokens) DIV (2 * n_tokens)"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__e6") / 1000000.0).as("score"))
      .withColumn("pass", col("score") > threshold)
  }

  /** T6: PII detection + redaction — per-document match counts for
    * email / IPv4 / long-number patterns and the scrubbed text
    * (replaced in that order, so an address inside an email is counted
    * once as email). Pure map: codegen'd regex over each row, no
    * shuffle; `redacted_hash` lets an auditor verify the scrub without
    * shipping the text.
    */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one replace chain: counts and redaction derive from the SAME
    // intermediate trees, so a pattern/order edit can never
    // desynchronize them
    val afterEmail = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val scrubbed = regexp_replace(afterIp, LongNumRe, "<NUM>")
    par(df).select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ipv4"),
      size(regexp_extract_all(afterIp, lit(LongNumRe), lit(0)))
        .cast("long").as("n_longnum"),
      scrubbed.as("redacted"),
      md5(scrubbed).as("redacted_hash"))
  }

  /** T9: text normalization — the C4-style cleanup pass every web
    * corpus runs before dedup/tokenization: lowercase, en/em dashes to
    * ASCII hyphen, control characters stripped, all whitespace runs
    * (including NBSP) collapsed to single spaces, edges trimmed. Pure
    * codegen'd map, zero shuffle; deterministic, so dedup hashes
    * computed after normalization are stable across runs and engines.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(translate(
        graft.functions.TextExpressions.lowerRoot(text), "—–", "--"),
        "[\\x00-\\x1f\\x7f]", " "),
      "[\\s ]+", " "))

  /** T10: frequency vocabulary build — the token table a tokenizer /
    * feature hasher ships: every token with count >= `minCount`,
    * densely ranked by (count desc, token) into `token_id`.
    *
    * Scale shape: one explode + one partial-aggregated groupBy on
    * token. The ranking avoids a global one-task sort the same way
    * [[Sampling.deterministicShuffle]] does: offsets come from the
    * count histogram (distinct counts — small under Zipf; the only
    * unpartitioned window runs on it), and token_id = offset +
    * row_number within the count group (keyed, distributed window).
    */
  def vocabulary(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    // plain tokenize + a token-keyed count: the map side is light and
    // a repartition would scatter duplicate tokens (partial-agg dedup
    // loss, the qHoppingDistinct finding) — leave the scan split alone
    val counts = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val hist = counts.groupBy(col("n")).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum(col("__c")).over(Window.orderBy(col("n").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n"), col("__off"))
    val w = Window.partitionBy(col("n")).orderBy(col("token"))
    counts.join(broadcast(hist), "n")
      .withColumn("token_id", col("__off") + row_number().over(w) - 1)
      .select(col("token"), col("n"), col("token_id"))
  }

  /** T11: TF-IDF term relevance — the per-(doc, term) weight behind
    * keyword extraction, BM25-style retrieval, and topical filtering.
    * `tf` = in-document term count, `df` = documents containing the
    * term, `idf` = ln(N/df), score = tf * idf; rows kept when
    * tf >= minTf AND df >= minDf (selection is pure integer
    * arithmetic — floats never decide membership).
    *
    * Cross-engine float discipline: the idf is rounded to 6 decimals
    * BEFORE the multiply. JVM `Math.log` and the oracle's libm differ
    * by 1 ulp on ~0.1% of N/df ratios (measured over every df at both
    * test SFs: 4/5500 raw mismatches, 0 after round-6), and
    * multiplying by tf would amplify a surviving ulp across the
    * round-4 output boundary; rounding first makes the product a
    * single IEEE multiply of identical doubles.
    *
    * Scale shape: one partial-aggregated groupBy on (doc, token) —
    * in-document repeats collapse map-side — then a token-keyed
    * re-aggregation for df (input already one row per (doc, token),
    * so count(*) IS document frequency), and a broadcast scalar join
    * for N. No window over the corpus, no driver collect.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
      minTf: Long = 2, minDf: Long = 2): DataFrame = {
    val tf = parBy(df, idCol)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n_docs"))
    tf.filter(col("tf") >= minTf)
      .join(docFreq.filter(col("df") >= minDf), "token")
      .crossJoin(broadcast(n))
      .withColumn("idf",
        round(log(col("__n_docs").cast("double") / col("df")), 6))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("idf"), round(col("tf") * col("idf"), 4).as("tfidf"))
  }

  /** T18: collocation lift — the exact-ratio form of bigram PMI, the
    * phrase-mining signal behind tokenizer merge candidates, stopword
    * discovery, and boilerplate phrase detection. For each adjacent
    * token pair:
    *
    *   lift(a,b) = p(a,b) / (p(a)·p(b)) = n_ab · N² / (M · n_a · n_b)
    *
    * (N total tokens, M total bigrams). PMI is ln(lift); the ln is
    * deliberately NOT taken — it adds a cross-engine libm hazard
    * (the T11 lesson) and no information, since ln is monotone: any
    * PMI threshold is a lift threshold. Numerator and denominator
    * are exact decimal(38,0) integer products; the single final
    * division is one IEEE op on identical doubles.
    *
    * Scale shape: one bigram explode (row-local transform over the
    * token array) + two grouped counts (unigram, bigram — both
    * map-side combinable) + two vocab-keyed equi-joins of the
    * PAIR-FLOOR-filtered bigram table against the unigram counts, and
    * a broadcast scalar join for (N, M). `minPairCount` is applied
    * BEFORE the joins — the pair table an engine joins is the
    * above-floor one, never the raw Zipf tail.
    */
  def collocations(df: DataFrame, textCol: String,
      minPairCount: Long): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("ts"))
    val uni = toks.select(explode(col("ts")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1)," +
          " i -> struct(ts[i-1] AS a, ts[i] AS b))")).as("p"))
      .select(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    val totals = toks.agg(
      sum(size(col("ts")).cast("long")).as("__n_tok"),
      sum(greatest(size(col("ts")).cast("long") - 1L, lit(0L)))
        .as("__n_bi"))
    val d38 = "decimal(38,0)"
    bi
      .join(uni.select(col("token").as("tok_a"), col("n").as("n_a")), "tok_a")
      .join(uni.select(col("token").as("tok_b"), col("n").as("n_b")), "tok_b")
      .crossJoin(broadcast(totals))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        round(
          (col("n_ab").cast(d38) * col("__n_tok").cast(d38) *
            col("__n_tok").cast(d38)).cast("double") /
          (col("__n_bi").cast(d38) * col("n_a").cast(d38) *
            col("n_b").cast(d38)).cast("double"), 6).as("lift"))
  }

  /** T19: token-distribution Shannon entropy per group — the
    * diversity metric corpus curation reads before mixing sources (a
    * low-entropy source is template spam no dedup threshold caught;
    * normalized entropy ~1 means tokens spread evenly over the
    * type vocabulary). In nats:
    *
    *   H = ln N − (Σ c·ln c)/N     (N tokens, c per-type counts)
    *
    * Float discipline: every ln goes through the [[microLogProb]]
    * ladder (ln rounded to 6 dp, scaled to an integer), so
    * Σ c·lnm(c) is an order-free exact decimal(38,0) sum and the two
    * output cells are single IEEE divisions of exact integers —
    * `entropy_nats` = (lnm(N)·N − S)/(N·10⁶) and `norm_entropy` =
    * (lnm(N)·N − S)/(N·lnm(T)) (NULL when T = 1: a one-type group
    * has no normalizable spread).
    *
    * Scale shape: one (group, token) grouped count (map-side
    * combinable — in-document repeats collapse before the shuffle)
    * + one grouped reduction to (N, T, S) per group. No window, no
    * join, no collect.
    */
  def tokenEntropy(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def lnm(x: Column) =
      round(round(log(x.cast("double")), 6) * 1e6).cast("long")
    val counts = df
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("grp"), col("token")).agg(count(lit(1)).as("c"))
    val agg = counts.groupBy(col("grp"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast(d38) * lnm(col("c")).cast(d38)).as("__s"))
    val num = lnm(col("n_tokens")).cast(d38) * col("n_tokens").cast(d38) -
      col("__s")
    agg.select(col("grp"), col("n_tokens"), col("n_types"),
      round(num.cast("double") /
        (col("n_tokens").cast(d38) * lit(1000000L).cast(d38))
          .cast("double"), 6).as("entropy_nats"),
      when(col("n_types") > 1,
        round(num.cast("double") /
          (col("n_tokens").cast(d38) * lnm(col("n_types")).cast(d38))
            .cast("double"), 6)).as("norm_entropy"))
  }

  /** T21: readability scoring (Flesch reading-ease form) — the
    * quality-stack signal complementary to T1's ratios and T13's LM
    * score: flags both the too-dense tail (legal boilerplate, OCR
    * glue) and the too-simple tail (SEO spam, keyword lists).
    *
    *   flesch = 206.835 − 1.015·(words/sentences)
    *                    − 84.6·(syllables/words)
    *
    * Counts are row-local regex class counts (whitespace tokens for
    * words, `[.!?]+` terminator groups for sentences — floored at 1
    * so unpunctuated fragments don't divide by zero, the flag rides
    * in `n_sentences` = 0 — and `[aeiouy]+` vowel groups as the
    * standard syllable heuristic); the character classes are
    * engine-portable ASCII, and the score is ONE fixed IEEE
    * expression over integer-valued doubles, identical cross-engine.
    * NULL score for wordless docs. No transcendentals anywhere.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = size(tokens(col(textCol))).cast("long")
    // Column-built (not SQL-string-interpolated) so column names that
    // need quoting/backticks work — same idiom as urlDomainsPsl above
    val s = size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
      .cast("long")
    val syl = size(regexp_extract_all(
      graft.functions.TextExpressions.lowerRoot(col(textCol)),
      lit("[aeiouy]+"), lit(0))).cast("long")
    par(df).select(col(idCol).as("doc_id"),
        w.as("n_words"), s.as("n_sentences"), syl.as("n_syllables"))
      .withColumn("__s1", greatest(col("n_sentences"), lit(1L)))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_words") > 0,
          round(col("n_words").cast("double") /
            col("__s1").cast("double"), 6)).as("words_per_sentence"),
        when(col("n_words") > 0,
          round(col("n_syllables").cast("double") /
            col("n_words").cast("double"), 6)).as("syllables_per_word"),
        when(col("n_words") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") /
                col("__s1").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double") /
                col("n_words").cast("double")), 4)).as("flesch"))
  }

  /** T12: line-level dedup — the C4-style boilerplate pass: any line
    * whose trimmed text appears in >= `minDocs` DISTINCT documents
    * (nav bars, cookie banners, copyright footers) is dropped from
    * every document; survivors reassemble in original order. Returns
    * per-doc line counts, the dropped fraction, and the hash of the
    * cleaned document (what the curated corpus would store).
    *
    * Scale shape: lines shuffle on a 128-bit line hash (never the
    * line text) for the document-frequency count and the hot-line
    * join; reassembly is one doc-keyed aggregation whose state is
    * bounded by document size — identical class to [[Dedup.dupPassages]].
    * No pair fanout: a banner line shared by 10^6 docs costs one
    * counter row, not O(df^2) work.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 2): DataFrame =
    lineRows(df, idCol, textCol)
      .join(hotLines(df, idCol, textCol, minDocs), Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(lineCleanAggs.head, lineCleanAggs.tail: _*)
      .withColumn("dup_line_frac", dupLineFrac4)
      .select("doc_id", "n_lines", "n_dropped", "dup_line_frac", "kept_hash")

  /** (doc_id, line_no, line, __h): each document's lines with their
    * 0-based position and the 128-bit trimmed-line hash everything
    * downstream keys on (the line TEXT never shuffles).
    */
  def lineRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    parBy(df, idCol).select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("__h", md5(trim(col("line"))))

  /** The hot-line index: trimmed-line hashes appearing in >= `minDocs`
    * DISTINCT documents, marked `__dup`. Blank lines can't be
    * "boilerplate": they never count and never drop.
    */
  def hotLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame =
    lineRows(df, idCol, textCol)
      .filter(trim(col("line")) =!= "")
      .groupBy(col("__h"))
      .agg(countDistinct(col("doc_id")).as("__d"))
      .filter(col("__d") >= minDocs)
      .select(col("__h"), lit(true).as("__dup"))

  /** Shared per-document cleanup aggregates over (line_no, line, __dup)
    * rows — one definition for the batch operator and its streaming
    * twin. sort_array on struct(line_no, line) restores document
    * order; concat_ws of an all-dropped doc is "" (oracle must
    * coalesce).
    */
  /** round(n_dropped/n_lines, 4) computed half-away-from-zero in pure
    * integer arithmetic, then ONE exact IEEE division by 10^4 — the
    * same cross-engine device as [[linearScore]]/[[halfAwayMean4Micro]].
    * Rounding the double quotient is the trap the bigramLmScore
    * scaladoc documents: on a half-point quotient, Spark's
    * decimal-string round and an oracle's multiply-based round can
    * disagree on the 1-ulp-below-half double. Both operands are
    * non-negative counts with n_lines >= 1, so no sign branch.
    */
  val dupLineFrac4: Column =
    expr("(20000 * n_dropped + n_lines) DIV (2 * n_lines)") / 10000.0

  val lineCleanAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_lines"),
    coalesce(sum(when(col("__dup"), 1L)), lit(0L)).as("n_dropped"),
    md5(concat_ws("\n", expr(
      "transform(sort_array(collect_list(CASE WHEN __dup IS NULL " +
        "THEN struct(line_no, line) END)), s -> s.line)"))).as("kept_hash"))

  /** T13: bigram language-model scoring — the CCNet-style quality
    * filter: score each document by the mean log-probability of its
    * token bigrams under an MLE bigram model fit on `train`
    * (P(w2|w1) = c(w1,w2) / c(w1, ·), left-position counts so the
    * conditional sums to 1). Bigrams unseen in training count as
    * `n_oov` and contribute nothing (self-scoring has none; a real
    * deployment smooths or penalizes — the plumbing is identical).
    * Gibberish and boilerplate-mix documents score far below fluent
    * ones; `avg_logprob` thresholds replicate the perplexity cut.
    *
    * Cross-engine float discipline: each bigram's ln(c12/c1) rounds
    * to 6 decimals (see [[tfidf]] for the measured ulp analysis) and
    * converts to an integer MICRO log-prob — the sum is an exact
    * long, and the mean rounds to 4 decimals half-away-from-zero in
    * pure integer arithmetic (same device as [[linearScore]]) before
    * ONE exact IEEE division by 10^4. Rounding the double quotient
    * instead is a trap this operator hit at sf0.1: a doc whose true
    * mean is exactly -3.40635 has a non-representable quotient, and
    * Spark's decimal-string round vs the oracle's multiply-based
    * round disagree on the 1-ulp-below-half double.
    *
    * Scale shape: two partial-aggregated groupBys build the model
    * (bigram + left-unigram counts); scoring joins shuffle on the
    * bigram/unigram keys, then one doc-keyed aggregation. No windows,
    * no driver-side model.
    */
  def bigramLmScore(train: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val (c12, c1) = bigramModel(train, idCol, textCol)
    bigramRows(docs, idCol, textCol)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .withColumn("__lp_micro", microLogProb(col("c12"), col("c1")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        coalesce(sum(when(col("c12").isNull, 1L)), lit(0L)).as("n_oov"),
        coalesce(sum(col("__lp_micro")), lit(0L)).as("__sum_micro"))
      .withColumn("avg_logprob",
        halfAwayMean4(col("__sum_micro"), col("n_bigrams") - col("n_oov")))
      .select("doc_id", "n_bigrams", "n_oov", "avg_logprob")
  }

  /** (doc_id, w1, w2) — one row per bigram OCCURRENCE, document order
    * irrelevant downstream; docs under two tokens have no bigrams.
    */
  def bigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    parBy(df, idCol)
    .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"), expr(
      "explode(transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2)))")
      .as("b"))
    .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The MLE bigram model as two count tables: (w1, w2) -> c12 and
    * w1 -> c1 (left-position count, so P(·|w1) sums to 1).
    */
  def bigramModel(train: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val bg = bigramRows(train, idCol, textCol)
    (bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
      bg.groupBy(col("w1")).agg(count(lit(1)).as("c1")))
  }

  /** Integer micro log-prob of one seen bigram: the round-6 double is
    * k/10^6 for an integer k, and k recovers exactly on both engines
    * (product error ~1e-9 of the integer spacing). Null for OOV.
    */
  def microLogProb(c12: Column, c1: Column): Column =
    round(round(log(c12.cast("double") / c1), 6) * 1e6).cast("long")

  /** Mean of `sumMicro`/`seen` in 1e-4 units, rounded half away from
    * zero in pure integer arithmetic, then ONE exact IEEE division —
    * the shared train/serve definition (see [[bigramLmScore]] for why
    * rounding the double quotient diverges across engines). Null when
    * `seen` is 0 (an all-OOV doc has no defined mean).
    */
  def halfAwayMean4(sumMicro: Column, seen: Column): Column =
    halfAwayMean4Micro(sumMicro, seen) / 10000.0

  /** The signed INTEGER mean in 1e-4 units behind [[halfAwayMean4]] —
    * threshold gates compare against this, so floats never decide a
    * verdict.
    */
  def halfAwayMean4Micro(sumMicro: Column, seen: Column): Column = {
    // integral num DIV den as (num - num % den) / den: the remainder
    // math stays in longs, and IEEE division of exactly-divisible
    // longs under 2^53 is exact — no float-floor boundary to cross
    val num = lit(2L) * abs(sumMicro) + lit(100L) * seen
    val den = lit(200L) * seen
    val q = ((num - num % den) / den).cast("long")
    when(seen > 0, when(sumMicro < 0, -1L).otherwise(1L) * q)
  }

  // ---- T20: vocabulary growth --------------------------------------

  /** T20: vocabulary growth curve (the Heaps'-law health check): how
    * many NEW token types each bucket of `bucketDocs` documents (in
    * doc-id order) introduces, plus the running vocabulary size. A
    * corpus whose curve flattens too early is repeating itself; one
    * that never flattens is noisy — either way it is the first plot a
    * data card shows.
    *
    * Scale shape: tokens reduce to (token, first doc id) via one
    * map-side-combinable min aggregation — the corpus never sorts; the
    * cumulative sum runs over the BUCKETS table (corpus/bucketDocs
    * rows — the bounded-table window device).
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      bucketDocs: Long, n: Int = 1): DataFrame = {
    require(bucketDocs > 0 && n > 0,
      s"invalid vocabGrowth params: bucketDocs=$bucketDocs n=$n")
    import org.apache.spark.sql.expressions.Window
    // types are word n-grams (n = 1: plain tokens; n >= 2 tracks the
    // phrase vocabulary, which keeps growing long after the unigram
    // vocabulary of a narrow-domain corpus has saturated)
    parBy(df, idCol).select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(__toks) - ${n - 1}),
           |  i -> concat_ws(' ', slice(__toks, i, $n)))""".stripMargin))
        .as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("__first"))
      .withColumn("bucket", expr(s"__first DIV $bucketDocs"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
      .withColumn("cum_types", sum(col("new_types")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  // ---- T15: HTML -> text extraction --------------------------------

  /** T15 test harness: wrap each document in a deterministic HTML
    * shell — head with title/script/style (the script body contains
    * raw `<`, `>`, `&&`, exactly what breaks naive tag stripping), an
    * h1, the text in paragraphs, and a fixed entity-bearing paragraph.
    * The expected extraction output is closed-form
    * (`Doc <id> <text> & <tag> "q'`), which is what makes the
    * extraction GATE a ground-truth check instead of regex parity.
    */
  def synthesizeHtml(df: DataFrame, idCol: String, textCol: String): DataFrame =
    par(df).select(col(idCol).as("doc_id"),
      concat(
        lit("<html><head><title>Doc "), col(idCol), lit("</title>"),
        lit("<script type=\"text/javascript\">var x = "), col(idCol),
        lit("; if (x < 2 && x > 0) { x += 1; }</script>"),
        lit("<style>.c { color: #fff; }</style></head>"),
        lit("<body><h1>Doc "), col(idCol),
        lit("</h1><div class=\"main\"><p>"), col(textCol),
        lit("</p><p>&amp; &lt;tag&gt; &quot;q&#39;</p></div></body></html>"))
        .as("html"))

  /** T15: boilerplate extraction — the crawl-to-corpus step every web
    * training pipeline runs first. Order matters and is part of the
    * contract: (1) drop head/script/style BLOCKS (their content is
    * code, and raw `<`/`&` inside them corrupts naive tag stripping);
    * (2) strip remaining tags to spaces; (3) decode the five core
    * entities with `&amp;` LAST (decoding it first would turn
    * `&amp;lt;` into a spurious `<`); (4) collapse whitespace. Every
    * step is a codegen'd regexp_replace — no UDF, and the identical
    * RE2-compatible patterns run on the oracle side.
    *
    * Scale shape: row-local projection; runs unchanged on a stream.
    */
  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    var c: Column = col(htmlCol)
    c = regexp_replace(c, "(?is)<head.*?</head>", " ")
    c = regexp_replace(c, "(?is)<script.*?</script>", " ")
    c = regexp_replace(c, "(?is)<style.*?</style>", " ")
    c = regexp_replace(c, "<[^>]*>", " ")
    c = regexp_replace(c, "&lt;", "<")
    c = regexp_replace(c, "&gt;", ">")
    c = regexp_replace(c, "&quot;", "\"")
    c = regexp_replace(c, "&#39;", "'")
    c = regexp_replace(c, "&amp;", "&")
    c = trim(regexp_replace(c, "\\s+", " "))
    par(df).select(col(idCol).as("doc_id"), c.as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** T17: character-level encoding sanity — the pre-tokenization
    * filter pass (mojibake, truncated decodes, binary spills) the
    * quality scorers (T1/T13) assume already ran: a document whose
    * bytes decoded wrong scores "low quality" for the wrong reason
    * and poisons vocabulary/BPE tables with ghost tokens. Counts per
    * document: total chars, non-ASCII, digits, "other" symbols,
    * C0 control characters (tab/newline/CR excluded — those are
    * formatting, not corruption), and U+FFFD replacement characters
    * (the decoder's own corruption marker). `is_clean` = no control,
    * no replacement.
    *
    * Entirely row-local codegen'd regexp counts (count = length −
    * length after class removal), identical RE2-compatible classes on
    * the oracle side; ratios are single IEEE divisions, round-6.
    */
  def charSanity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    def countOf(cls: String): Column =
      (length(text) - length(regexp_replace(text, cls, ""))).cast("long")
    val nChars = length(text).cast("long")
    par(df).select(col(idCol).as("doc_id"),
        nChars.as("n_chars"),
        countOf("[^\\x00-\\x7F]").as("n_non_ascii"),
        countOf("[0-9]").as("n_digit"),
        countOf("[^A-Za-z0-9\\s]").as("n_other"),
        countOf("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("n_control"),
        countOf("\\x{FFFD}").as("n_replacement"))
      .withColumn("non_ascii_ratio",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(round(col("n_non_ascii") / col("n_chars"), 6)))
      .withColumn("is_clean",
        (col("n_control") === 0 && col("n_replacement") === 0).cast("int"))
  }

  private def requireTerms(terms: Seq[String]): Unit = {
    require(terms.nonEmpty && terms == terms.sorted && terms.distinct == terms,
      "terms must be non-empty, sorted, distinct (fixes the sum order)")
    terms.foreach(t => require(t.matches("[A-Za-z0-9_]+"),
      s"term '$t' — word characters only (it is inlined into the plan)"))
  }

  /** (doc_id, dl, __tf0..__tfN): in-row term frequencies. */
  private def bm25Tf(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val base = parBy(df, idCol).select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("__toks"), x => x === lit(t))).cast("bigint")
        .as(s"__tf$i")
    }
    base.select(col("doc_id") +: col("dl") +: tfCols: _*)
  }

  /** The ONE-ROW corpus statistics table BM25 needs: N, total tokens,
    * per-term document frequencies — broadcast-sized by construction,
    * and the static side of the streaming twin
    * ([[graft.streaming.StreamingBm25]]).
    */
  def bm25Stats(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    requireTerms(terms)
    val withTf = bm25Tf(df, idCol, textCol, terms)
    val aggs = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("total_tokens") +:
      terms.indices.map(i =>
        sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    withTf.agg(aggs.head, aggs.tail: _*)
  }

  /** Row-local BM25 scoring against a precomputed [[bm25Stats]] row —
    * no aggregation over `df` at all, so it runs verbatim on a stream.
    * Returns every document with >= 1 query term.
    */
  def bm25Score(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], stats: DataFrame, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    requireTerms(terms)
    val scored = bm25Tf(df, idCol, textCol, terms).join(broadcast(stats))
    // Column arithmetic only — a string-interpolated "1.2" would parse
    // as a Spark DECIMAL literal and type the whole tree away from the
    // oracle's doubles. The oracle spells the same literal ops
    // ((1.2 + 1), 1 - 0.75, …) so both engines constant-fold to the
    // identical IEEE values.
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val termScore = terms.indices.map { i =>
      val df = col(s"__df$i")
      val tf = col(s"__tf$i")
      val idf = round(
        log(lit(1.0) + (col("n_docs").cast("double") - df + lit(0.5))
          / (df + lit(0.5))), 6)
      val dlNorm = lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl)
      when(tf > 0, round(idf * (tf * (k1 + 1)) / (tf + dlNorm), 6))
        .otherwise(lit(0.0))
    }
    val total = round(termScore.reduceLeft(_ + _), 6)
    val hits = terms.indices
      .map(i => (col(s"__tf$i") > 0).cast("int")).reduceLeft(_ + _)
    scored
      .select(col("doc_id"), col("dl"), hits.as("n_terms_hit"),
        total.as("bm25"))
      .filter(col("n_terms_hit") > 0)
  }

  /** T16: BM25 retrieval scoring — T11's tf·idf turned into the
    * ranking function a corpus search actually runs (Robertson &
    * Zaragoza 2009; k1 saturates term frequency, b normalizes by
    * document length). For a FIXED query-term set: corpus stats (N,
    * total tokens, per-term document frequencies) reduce to ONE
    * broadcast-sized row ([[bm25Stats]]); every document then scores
    * row-locally ([[bm25Score]]) — term frequencies from in-row
    * `filter()` over the token array, the per-term partial and the
    * final sum as one fixed expression tree. No per-(doc, term)
    * explosion, no ordering anywhere: at 100 TB this is a stats pass
    * + a map.
    *
    * Float discipline: idf = round(ln(1 + (N−df+0.5)/(df+0.5)), 6)
    * (round-6 absorbs the cross-engine ln ulp, the T11/T13 device);
    * per-term scores round-6; the total sums the ≤|terms| partials in
    * SORTED TERM ORDER as one literal expression — both engines
    * evaluate the identical float program. Zero-df terms contribute
    * nothing (tf = 0 everywhere) but keep their idf defined.
    *
    * Output: docs with at least one query term, ranked
    * (bm25 DESC, doc_id) with a deterministic row_number.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("doc_id"))
    bm25Score(df, idCol, textCol, terms,
        bm25Stats(df, idCol, textCol, terms), k1, b)
      // TakeOrderedAndProject: per-partition top-k merged at the
      // driver — never a global sort; the rank window then runs over
      // exactly topK rows
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
      .withColumn("rnk", row_number().over(w))
  }
}
