package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Corpus deduplication operators (SURVEY.md §2.3 D1-D4): exact
  * content-hash dedup, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here is all-pairs. Candidate generation is
  * always a shuffle keyed by a content-derived bucket (shingle hash,
  * LSH band hash, simhash band), so work is proportional to true
  * collisions, not |corpus|^2 — the property that matters at 100 TB.
  * Verification (exact Jaccard / Hamming) runs only over candidates.
  */
object Dedup {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** The one check of the band joins' `maxBucket`: 0 = uncapped,
    * > 0 = drop band buckets wider than the cap. A negative value is
    * rejected loudly instead of silently disabling the guard.
    */
  private[graft] def requireBucketCap(maxBucket: Long): Unit =
    require(maxBucket >= 0,
      s"maxBucket=$maxBucket: 0 = uncapped, > 0 = cap on band-bucket width")

  /** The buckets wider than `cap`: one map-side-combinable count per
    * bucket filtered to the hot set — AT MOST bandRows/cap rows by
    * construction (0.5% of band rows at cap 200), so it checkpoints
    * cheaply and the checkpoint hands AQE exact tiny-table stats.
    */
  private def hotBuckets(src: DataFrame, keys: Seq[String],
      cap: Long): DataFrame =
    Materializer.of(src.sparkSession)(
      src.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__w"))
        .filter(col("__w") > cap)
        .select(keys.map(col): _*))

  /** The shingles with df > `maxDf` — [[hotBuckets]]' structural
    * bound applied to posting lists: at most shingleRows/maxDf rows,
    * checkpointed so the rare/hot split's semi/anti joins get exact
    * tiny-table stats (AQE broadcasts them; the shingle index is
    * never shuffled for the split).
    */
  private[operators] def hotShingles(sets: DataFrame, maxDf: Long): DataFrame =
    Materializer.of(sets.sparkSession)(
      sets.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf)
        .select(col("sh")))

  /** Drops band buckets wider than `cap` (0 = uncapped: the identity)
    * before they emit O(width²) pairs: LEFT ANTI join against the materialized [[hotBuckets]]
    * set. With the hot set small (its structural common case) AQE
    * plans a broadcast anti join, so the band frame is NEVER shuffled
    * for the guard; in the adversarial worst case (all buckets just
    * over cap) the anti join degrades to the same (band, hash)-keyed
    * shuffle the guard always needed. This replaced an r13-r14 count
    * window over (band, hash): the window shuffled AND sorted the
    * ENTIRE band frame once per join side — at 4M docs on a 48g
    * local JVM exactly the execution-memory profile that OOMed the
    * 4M-doc auto arm of SURVEY §26.8, and at 100 TB a full extra
    * corpus shuffle for a guard that structurally needs only a
    * bucket-count table.
    */
  private def widthFiltered(src: DataFrame, keys: Seq[String],
      cap: Long): DataFrame =
    if (cap == 0) src
    else src.join(hotBuckets(src, keys, cap), keys, "left_anti")

  /** Band-frame cap plumbing for the MATERIALIZING band joins
    * (simhash, bandedHamming): the bands are always checkpointed once
    * (their upstream is the full raw-text pipeline — measured
    * 2.5 -> 1.4 s); a cap then applies the [[widthFiltered]] anti join
    * over that checkpoint (the filtered frame itself is NOT
    * re-checkpointed: each self-join side re-runs only a broadcast
    * anti probe over local blocks).
    */
  private def cappedBands(bands0: DataFrame, keys: Seq[String],
      maxBucket: Long): DataFrame = {
    requireBucketCap(maxBucket)
    widthFiltered(Materializer.of(bands0.sparkSession)(bands0), keys, maxBucket)
  }

  /** D1: exact dedup — one hash-partial-aggregated groupBy on a 128-bit
    * content hash; the canonical first pass of any training pipeline.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Linear-combination coefficients for combining per-token hashes
    * into a gram hash (primes; position k weighted by ShingleCoef(k)).
    * Values keep n <= 8 gram sums below 2^55 for 30-bit token hashes —
    * overflow-safe in both engines.
    */
  val ShingleCoef: Vector[Long] =
    Vector(1000003L, 999983L, 31L, 10007L, 257L, 65537L, 8191L, 127L)

  /** The token hashes of a token array: [[Hashing.h30]] of each token,
    * the value the oracle computes with `Hashing.h30Sql`. Every shingle
    * path hashes its tokens with this, once per token.
    */
  private[graft] def hashTokens(toks: Column): Column =
    transform(toks, Hashing.h30(_))

  /** The word-`n`-gram hashes of a [[hashTokens]] column `th`, in
    * position order: gram i is `Σ_k ShingleCoef(k) * th[i + k]`.
    * Defined only where `size(th) >= n`, so callers filter or guard on
    * that. Give `th` a projection of its own: the lambda reads it `n`
    * times per gram, and an inline token-hash expression would hash
    * the whole document again for every gram.
    */
  private[graft] def gramHashes(th: Column, n: Int): Column = {
    require(n >= 1 && n <= ShingleCoef.length,
      s"n=$n (want 1..${ShingleCoef.length})")
    transform(sequence(lit(0), size(th) - n), i => (0 until n)
      .map(k => lit(ShingleCoef(k)) * element_at(th, i + (k + 1)))
      .reduce(_ + _))
  }

  /** (doc_id, sh): the distinct word-`n`-gram shingle hashes of each
    * document. Documents with fewer than `n` tokens have no shingles
    * and drop out (same as the oracle's empty-list unnest).
    *
    * Each TOKEN is hashed once and gram hashes are linear combinations
    * of the token hashes ([[gramHashes]]) — n times fewer hash
    * invocations and no gram string materialization vs hashing each
    * gram's concatenation (measured ~30% off the shingle stage).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleSetsWith(df, idCol, textCol, n, Seq.empty)

  /** Planned-split estimate for the narrow single-scan pipelines
    * [[withScanParallelism]] wraps, WITHOUT compiling a physical plan
    * (ADVICE r17: `df.rdd` planned — then discarded — a full physical
    * plan per guard call, so every guarded query paid double driver
    * planning; on the sf0.1 `documents` file in a warm `local[4]`
    * session, 4-core Xeon, a fresh frame's estimate took a median
    * 3.4 ms, analysis included, and its `.rdd.getNumPartitions`
    * 46 ms). Runs the file scan's own split arithmetic —
    * `FilePartition.maxSplitBytes`, `PartitionedFileUtil.splitFiles`
    * and `FilePartition.getFilePartitions`, as `FileSourceScanExec`
    * calls them — over the relation's (already session-cached) file
    * listing. `None` on any shape other than narrow-ops-over-one-
    * unbucketed-unpartitioned-file-scan (a bucketed scan splits per
    * bucket, a partitioned one prunes by its filters), where the caller
    * falls back to the exact `.rdd` probe.
    */
  private[graft] def plannedScanSplits(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.{logical => lg}
    import org.apache.spark.sql.execution.PartitionedFileUtil
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val wide = plan.exists {
      case _: lg.Join | _: lg.Aggregate | _: lg.Distinct |
           _: lg.Deduplicate | _: lg.Sort | _: lg.Window |
           _: lg.RepartitionOperation | _: lg.GlobalLimit |
           _: lg.SetOperation | _: lg.Union => true
      case _ => false
    }
    if (wide) return None
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case fs: HadoopFsRelation
            if fs.bucketSpec.isEmpty && fs.partitionSchema.isEmpty =>
          val spark = fs.sparkSession
          val listed = fs.location.listFiles(Nil, Nil)
          val maxSplit = FilePartition.maxSplitBytes(spark, listed)
          val pieces = listed.flatMap { dir =>
            dir.files.flatMap { f =>
              PartitionedFileUtil.splitFiles(f, f.getPath,
                fs.fileFormat.isSplitable(spark, fs.options, f.getPath),
                maxSplit, dir.values)
            }
          }.sortBy(-_.length)
          Some(FilePartition.getFilePartitions(spark, pieces, maxSplit).size)
        case _ => None
      }
      case _ => None
    }
  }

  /** Ensure CPU-bound narrow work (tokenize + per-token hashing +
    * explode) runs with at least the session's core count of tasks
    * (r17 opt): input partitioning follows FILE layout, and a small
    * single-file corpus arrives as ONE scan task that would tokenize
    * and hash the whole corpus serially before the first exchange —
    * the synthesizeCorpus lesson applied to the text side. The guard
    * is scale-adaptive, not a local constant: when the scan already
    * yields at least half the session's cores of splits (every real
    * deployment's corpus), this is the identity and NO extra corpus
    * shuffle appears; only an under-split input pays one round-robin
    * of its raw rows to unlock the cores.
    */
  private[graft] def withScanParallelism(df: DataFrame,
      keys: Seq[Column] = Seq.empty): DataFrame = {
    // streaming frames: micro-batch partitioning is the source's
    // business and `.rdd` is a batch-only action — identity
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val splits = plannedScanSplits(df).getOrElse(df.rdd.getNumPartitions)
    if (splits * 2 >= target) df
    // keys: hash-partition so rows sharing the downstream aggregation
    // key stay co-located and the partial-aggregate phase keeps its
    // dedup power — a bare round-robin SCATTERS duplicates and can
    // grow the next exchange by the task count (measured 2.1 -> 4.6 s
    // on a distinct aggregate); keyless = row-local work only
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }

  /** [[shingleSets]] with passthrough columns riding the explode
    * (r17 opt): `extraCols` must exist on `df` and land verbatim on
    * every (doc_id, sh) row. This replaces the former pattern of
    * joining the exploded frame BACK to the doc table to re-attach
    * doc-level columns — that join shuffled the entire shingle frame
    * on doc_id (and at corpus scale tempts the planner into
    * broadcasting a data-sized doc table); a projection through the
    * explode costs neither (guide §2.4: remove shuffles outright).
    */
  def shingleSetsWith(df: DataFrame, idCol: String, textCol: String,
      n: Int, extraCols: Seq[String]): DataFrame =
    withScanParallelism(
        df.select(col(idCol).as("doc_id") +: extraCols.map(col) :+
          col(textCol).as("__text"): _*), Seq(col("doc_id")))
      .select(col("doc_id") +: extraCols.map(col) :+
        tokens(col("__text")).as("toks"): _*)
      .filter(size(col("toks")) >= n)
      .withColumn("th", hashTokens(col("toks")))
      .select(col("doc_id") +: extraCols.map(col) :+
        // distinct-within-doc happens on the in-row gram array
        // (array_distinct), NOT via .distinct() after the explode:
        // (doc_id, sh) is already unique across docs, so the global
        // distinct was a full shuffle buying nothing
        explode(array_distinct(gramHashes(col("th"), n))).as("sh"): _*)

  /** An (id, sh) side with its id column named `id`. The id is the
    * side's one column besides `sh` (a USING join on `sh` moves `sh`
    * first, so not its position); a side whose id already has that
    * name passes through unprojected.
    */
  private def named(side: DataFrame, id: String): DataFrame = {
    val own = side.columns.filterNot(_ == "sh").head
    if (own == id) side else side.select(col(own).as(id), col("sh"))
  }

  /** Per-pair shared-shingle counts between two (id, sh) sides — the
    * one overlap count every near-dup and ER path runs. The output
    * names the sides' ids `ids` ([[named]]) and keeps the
    * pairs `pair` accepts (`doc_a < doc_b` for a self-join, `lit(true)`
    * for two tables): (ids._1, ids._2, shared). The shuffle keys on the
    * shingle hash, so pairs emerge only inside buckets.
    *
    * `hot` (None = uncapped) is the materialized set of shingles over
    * the posting-list cap ([[hotShingles]]; the caller decides over
    * which index df is counted). Shared counts then come from the rare
    * postings alone — one bounded-bucket shuffle, the uncapped shape —
    * and the hot shingles' contribution is added back by
    * [[exactShared]] ONLY for pairs already candidates via a rare
    * shingle (the hot side is a tiny table). Every emitted pair carries
    * its exact |A∩B|; only pairs overlapping SOLELY in hot shingles are
    * missed, and those sit far below any useful threshold.
    * Materializing the candidate set and recounting against the full
    * index (the obvious plan) measured ~19x slower.
    */
  def sharedCounts(a: DataFrame, b: DataFrame, ids: (String, String),
      pair: Column, hot: Option[DataFrame]): DataFrame = {
    val (ia, ib) = ids
    def postings(side: DataFrame, how: String) =
      hot.fold(side)(side.join(_, Seq("sh"), how))
    val shared = named(postings(a, "left_anti"), ia)
      .join(named(postings(b, "left_anti"), ib), Seq("sh"))
      .filter(pair)
      .groupBy(ia, ib)
      .agg(count(lit(1)).as("shared"))
    if (hot.isEmpty) shared
    else {
      val hotShared = exactShared(shared.select(ia, ib),
          postings(a, "left_semi"), postings(b, "left_semi"))
        .withColumnRenamed("shared", "__hot")
      shared.join(hotShared, Seq(ia, ib), "left")
        .select(col(ia), col(ib),
          (col("shared") + coalesce(col("__hot"), lit(0L))).as("shared"))
    }
  }

  /** Exact shared-shingle counts for an explicit candidate-pair set:
    * `cand`'s first two columns are the pair's ids, `a` and `b` the
    * (id, sh) sides they index ([[named]]). Output (idA, idB, shared);
    * shuffles on id / (id, shingle), never a bucket fanout.
    */
  def exactShared(cand: DataFrame, a: DataFrame, b: DataFrame): DataFrame = {
    val Array(ia, ib) = cand.columns.take(2)
    cand
      .join(named(a, ia), ia)
      .join(named(b, ib), Seq(ib, "sh"))
      .groupBy(ia, ib)
      .agg(count(lit(1)).as("shared"))
  }

  /** Jaccard(A, B) >= num/den for |A∩B| = `shared` and set sizes `nA`,
    * `nB`, as pure integer arithmetic ((den+num)*shared >=
    * num*(nA+nB)), so no float boundary can disagree with the oracle.
    */
  def jaccardAtLeast(shared: Column, nA: Column, nB: Column, num: Long,
      den: Long): Column =
    lit(den + num) * shared >= lit(num) * (nA + nB)

  /** The display Jaccard, round-4; no threshold test reads it. */
  def jaccardRounded(shared: Column, nA: Column, nB: Column): Column =
    round(shared / (nA + nB - shared), 4)

  /** Attach set sizes to (idA, idB, shared) pairs and keep those with
    * Jaccard >= num/den ([[jaccardAtLeast]]). `sizesA` is (idA, nA) and
    * `sizesB` (idB, nB), named as the caller outputs them. Output
    * (idA, idB, shared, nA, nB, jaccard).
    */
  def jaccardFilterSizes(shared: DataFrame, sizesA: DataFrame,
      sizesB: DataFrame, num: Long, den: Long): DataFrame = {
    val Array(ia, na) = sizesA.columns
    val Array(ib, nb) = sizesB.columns
    shared.join(sizesA, ia).join(sizesB, ib)
      .filter(jaccardAtLeast(col("shared"), col(na), col(nb), num, den))
      .withColumn("jaccard", jaccardRounded(col("shared"), col(na), col(nb)))
      .select(ia, ib, "shared", na, nb, "jaccard")
  }

  /** [[jaccardFilterSizes]] for (doc_a, doc_b) pairs of one (doc_id, sh)
    * index, sized from that index.
    */
  def jaccardFilter(shared: DataFrame, sets: DataFrame, num: Long,
      den: Long): DataFrame = {
    val sizes = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    jaccardFilterSizes(shared,
      sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
      sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), num, den)
  }

  /** The (doc_a, doc_b) pairs of one (doc_id, sh) index with Jaccard >=
    * num/den and their exact |A∩B|: [[sharedCounts]] as a self-join,
    * posting-list cap `maxDf` (0 = uncapped) counted over the index.
    * The capped arm reads the index six times (both rare sides, both
    * hot add-back probes, the size lookup, the df count), so callers
    * pass a materialized one.
    */
  def jaccardPairs(sets: DataFrame, num: Long, den: Long,
      maxDf: Long): DataFrame = {
    val hot = if (maxDf <= 0) None else Some(hotShingles(sets, maxDf))
    jaccardFilter(sharedCounts(sets, sets, ("doc_a", "doc_b"),
      col("doc_a") < col("doc_b"), hot), sets, num, den)
  }

  /** D2: n-gram Jaccard near-dup — inverted index candidates + exact
    * Jaccard, threshold num/den ([[jaccardPairs]]). `maxDf > 0` enables
    * the posting-list cap (standard in production dedup: one
    * stop-phrase shingle shared by 10^6 docs would emit O(df²) pairs
    * in a single bucket — the straggler task that kills a 100 TB run)
    * and materializes the shingle index once ([[Materializer]];
    * measured 4.1 -> 2.9 s median at sf0.1 when it landed), since the
    * capped plan reads it six times; 0 keeps the single-pass exact
    * index.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int, num: Long, den: Long, maxDf: Long = 0): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, n)
    jaccardPairs(if (maxDf > 0) Materializer.of(df.sparkSession)(sets) else sets,
      num, den, maxDf)
  }

  /** D6: near-dup cluster resolution — connected components over the
    * pair graph, labeling every doc with the minimum doc id of its
    * component (the canonical "keep" id real dedup pipelines key on:
    * keep one representative per near-dup cluster, not per pair).
    *
    * Alternating large-star/small-star rounds (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond"): each round
    * contracts every node's strictly-larger neighbors onto the minimum
    * of its neighborhood (large-star), then re-points every smaller
    * neighbor at that minimum (small-star). The pointer-doubling
    * effect converges in O(log n) rounds even on a chain-shaped graph
    * whose DIAMETER is Θ(n) — the case hash-min label propagation
    * (see [[clustersHashMin]]) needs Θ(n) rounds for. Overlapping
    * shingle chains produce exactly those long thin components at
    * corpus scale, so this is the default path.
    *
    * Every round is a constant number of distributed joins/groupBys;
    * the driver only sequences rounds and checks the (scalar) edge
    * fixpoint. Non-convergence at `maxIters` RAISES — callers never
    * receive silently split clusters. The [[Materializer]] truncates
    * the iterative lineage so round N's plan doesn't replay rounds
    * 1..N-1. Contract: every id in `pairs` must appear in `df`
    * (pairs are generated from the same corpus).
    */
  def clusters(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20, pairsCanonical: Boolean = false): DataFrame = {
    requireIntegralId(df, idCol)
    val mat = Materializer.of(df.sparkSession)
    // canonical orientation u > v (each edge points at its smaller
    // end); self-loops carry no connectivity and drop here.
    // `pairsCanonical = true` (r17 opt) asserts the input is already a
    // set of UNIQUE unordered pairs with doc_a < doc_b — true for
    // every pair generator in this repo (the band joins and the
    // Jaccard verify both end in doc_a < doc_b + distinct-by-
    // construction) — and skips the defensive re-distinct, a full
    // exchange + dedup of the pair set.
    val oriented =
      if (pairsCanonical)
        // cheap contract enforcement (ADVICE r17): the u > v orientation
        // invariant of the star loop silently corrupts components if a
        // future caller passes a non-canonical pair — this row-local
        // filter (no shuffle, identity on every conforming generator)
        // turns that caller bug into missing rows a gate catches, and
        // drops nothing for the documented doc_a < doc_b contract
        pairs.select(col("doc_b").as("u"), col("doc_a").as("v"))
          .filter(col("u") > col("v"))
      else pairs
        .select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    // count rides the materialization job (Materializer.eagerCounted)
    var (edges, prevCount) = Materializer.eagerCounted(mat, oriented)
    var converged = prevCount == 0L
    var iter = 0
    // One contraction round as a PURE plan transform (r18 rewrite):
    //
    //   - large-star: for every center u, link each strictly-larger
    //     neighbor v to m = min of u's closed neighborhood. The min now
    //     rides a WINDOW over the same u-partitioning the old
    //     groupBy+join pair needed anyway — one exchange+sort instead
    //     of an aggregate exchange plus a join that either broadcasts a
    //     node-count-sized min table (non-viable at corpus scale) or
    //     shuffles gamma a second time (guide §2.4: window keyed like
    //     the aggregation shares one exchange). Output stays u > v.
    //   - small-star: same device on the re-pointed edges; neighbor and
    //     center rows emerge from ONE 2-element explode (the pagerank
    //     edge-build device) instead of a union that would re-run the
    //     window per leg. The closing distinct() restores set semantics
    //     exactly as before (min() is duplicate-insensitive, so the
    //     richer pre-distinct multiset is harmless — r17 finding).
    //
    // Identical output set per round: the window attaches the same
    // per-u min the 1:1 join attached, filters/projections are
    // unchanged, and distinct() collapses the union-vs-explode
    // multiset difference. Row-count parity is spec-pinned
    // (DedupSpec), and the oracle gate covers all four cluster
    // queries end-to-end.
    def contractRound(e: DataFrame): DataFrame = {
      val wu = Window.partitionBy(col("u"))
      val gamma = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val afterLarge = gamma
        .withColumn("m", least(min(col("v")).over(wu), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      afterLarge
        .withColumn("m", min(col("v")).over(wu))
        .select(col("m"), explode(array(col("v"), col("u"))).as("n"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }
    // one round per materialization: two rounds per checkpoint ran
    // 5.0-5.9 s vs 2.3-3.6 s at gate scale (OPTIMIZATION_r18.md,
    // Batch 3, "depth-2 round batching")
    while (!converged && iter < maxIters) {
      val (next, nextCount) = Materializer.eagerCounted(mat, contractRound(edges))
      // published termination criterion: the iterated edge set reaches
      // a fixpoint (disjoint stars). Both sides are distinct sets, so
      // equal counts + empty difference is exact set equality; the
      // count gate makes the except() run only on candidate rounds.
      converged = nextCount == prevCount && next.except(edges).isEmpty
      edges = next
      prevCount = nextCount
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"Dedup.clusters: star contraction did not converge in $maxIters " +
        s"rounds (${prevCount} edges remain) — raise maxIters; " +
        "O(log n) rounds suffice for any pair graph, so this bound " +
        "should never bind on real corpora")
    // fixpoint = disjoint stars: every non-minimum node carries exactly
    // one edge, straight to its component minimum
    df.select(col(idCol).as("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("lbl")),
        Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(min(coalesce(col("lbl"), col("doc_id"))).as("cluster_id"))
  }

  /** Hash-min label propagation — the round-count baseline `clusters`
    * replaced: every doc starts as its own label, each round takes the
    * min label across neighbors, so convergence needs
    * `diameter(component)` rounds. Fine for shallow near-dup blobs
    * (2-4 rounds), Θ(n) rounds on chain components — which is why
    * [[clusters]] runs star contraction instead. Kept as the
    * simple-kernel reference; non-convergence at `maxIters` RAISES
    * rather than returning silently split clusters.
    */
  def clustersHashMin(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 10): DataFrame = {
    requireIntegralId(df, idCol)
    // materialize the edge list ONCE: every round joins against it,
    // and without this each round's fresh plan would re-run the whole
    // upstream pair-generation pipeline
    val mat = Materializer.of(df.sparkSession)
    val edges = mat.eager(pairs
      .select(col("doc_a").as("v"), col("doc_b").as("u"))
      .union(pairs.select(col("doc_b").as("v"), col("doc_a").as("u"))))
    var labels = mat.eager(
      df.select(col(idCol).as("v"), col(idCol).as("cluster_id")))
    // coalesce: sum() over an EMPTY corpus is NULL, not 0 — without it
    // the scalar fetch NPEs before the loop even starts
    def labelSum(l: DataFrame): Long =
      l.agg(coalesce(sum(col("cluster_id")), lit(0L))).head.getLong(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // one round = one shuffle: own label and neighbors' labels union
      // into a single min-aggregation. Convergence detection is free:
      // the label sum is strictly decreasing until the fixpoint.
      val neighborLabels = edges
        .join(labels.select(col("v").as("u"), col("cluster_id")), "u")
        .select(col("v"), col("cluster_id"))
      labels = mat.eager(labels.union(neighborLabels)
        .groupBy("v")
        .agg(min(col("cluster_id")).as("cluster_id")))
      val s = labelSum(labels)
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"Dedup.clustersHashMin: label propagation did not converge in " +
        s"$maxIters rounds — a component's diameter exceeds the bound " +
        "and labels are still split; use Dedup.clusters (star " +
        "contraction, O(log n) rounds) or raise maxIters")
    labels.select(col("v").as("doc_id"), col("cluster_id"))
  }

  /** min() labels and the exact convergence arithmetic are only
    * well-defined on integral ids; a float id would make fixpoint
    * equality a rounding accident.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(idType),
      s"clusters requires an integral id column, got $idCol: $idType")
  }

  /** D11: canonical-survivor selection — the keep/drop decision a
    * curation pipeline makes AFTER cluster resolution: within each
    * near-dup cluster keep exactly one member and mark the rest for
    * removal. The keep rule is quality-greedy: highest `qualityCol`
    * wins (character length is the standard proxy when no learned
    * score exists — longer near-dups usually carry the superset
    * content), ties broken to the SMALLEST doc id so reruns are
    * deterministic and the survivor set is stable under re-ingest of
    * the same corpus.
    *
    * Emits one row per doc: (doc_id, cluster_id, cluster_size,
    * keep_id, is_kept) — the full audit trail, not just the survivor
    * list, so downstream joins can explain every drop.
    *
    * Scale shape: [[clusters]]' star contraction plus ONE extra
    * cluster-keyed aggregation. The argmax is `max_by` over a
    * (quality, ~id) struct — a map-side-combinable agg, no window
    * sort (`~id` orders descending-by-id without the `-id` negation
    * that overflows on Long.MinValue: bitwise NOT is a monotone-
    * decreasing bijection on Long, ADVICE_r13); the size+winner come
    * out of the same shuffle, and the audit join back to members is
    * on the cluster key the agg just produced. Nothing here is
    * pairwise.
    *
    * `qualityCol` must be INTEGRAL (the reproducibility contract of
    * the whole exactness ladder: float scores tie-break on float
    * accidents). A learned score in [0, 1] must be scaled to micros
    * first — the previous silent `cast("long")` collapsed such
    * scores to all-ties, making the id the de-facto keep rule.
    */
  def keepCanonical(df: DataFrame, idCol: String, qualityCol: Column,
      pairs: DataFrame, maxIters: Int = 20,
      pairsCanonical: Boolean = false): DataFrame = {
    val qType = df.select(qualityCol.as("__q")).schema.head.dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(qType),
      s"keepCanonical requires an integral quality column, got $qType" +
        " — scale fractional scores to integer micros first (a" +
        " silent cast would collapse a [0,1] score to all-ties)")
    val labels = clusters(df, idCol, pairs, maxIters, pairsCanonical)
    // r17 opt: members feeds BOTH the winner aggregation and the final
    // audit join — unmaterialized, each consumer re-ran the label join
    // (a corpus scan + edge join). One doc-sized checkpoint removes
    // the duplicate pass.
    val members = Materializer.of(df.sparkSession)(labels.join(
      df.select(col(idCol).as("doc_id"), qualityCol.cast("long").as("__q")),
      "doc_id"))
    val winners = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        expr("max_by(doc_id, struct(__q, ~doc_id))").as("keep_id"))
    members.join(winners, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("keep_id"),
        when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("is_kept"))
  }

  /** D7: duplicated-passage detection — the token-span analogue of
    * suffix-array substring dedup (the "dedup repeated passages, not
    * whole documents" pass large-scale training pipelines run after
    * document-level dedup): any word-`n`-gram occurring in >= `minDocs`
    * distinct documents marks its token range as duplicated; runs of
    * overlapping/adjacent marked ranges merge into maximal spans.
    *
    * Per qualifying doc (>= 1 duplicated passage): span count, covered
    * token count/fraction, and `keep_hash` — the content hash of the
    * doc with duplicated spans removed (what the cleaned corpus would
    * contain).
    *
    * Scale shape: NO pair fanout anywhere — unlike the near-dup
    * operators this never materializes doc pairs. One groupBy on the
    * gram hash (partial-aggregated distinct-doc count), a semi-join
    * back on the same key, then one doc-keyed aggregate with in-row
    * span assembly. A
    * stop-phrase gram shared by 10^6 docs costs one counter, not
    * O(df^2) pairs, so no df-cap is needed for safety — `minDocs`
    * only tunes sensitivity.
    */
  def dupPassages(df: DataFrame, idCol: String, textCol: String, n: Int,
      minDocs: Long = 2): DataFrame = {
    // r18 (VERDICT #5, positions-as-array): [[coveredPositions]] now
    // returns per-doc SPAN ARRAYS merged in-row ([[spanArrays]]) — the
    // covered-token count, span count and covered-position list are
    // row-local folds over the (ascending, disjoint) spans, so the
    // former gaps-and-islands window + per-doc re-aggregation are gone
    // and the base join is doc-level 1:1.
    val (base, spans) = coveredPositions(df, idCol, textCol, n, minDocs)
    // kept positions via array_except (hash-set membership, O(n + dup)
    // per doc) instead of filter+array_contains (a linear scan of the
    // covered list PER TOKEN, O(n * dup) — a 100k-token doc that is 90%
    // duplicated costs ~9e9 comparisons in one task). array_except
    // preserves the order of its left argument, so the surviving tokens
    // stay in document order and the hash is unchanged.
    spans.join(base, "doc_id")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        expr("aggregate(__spans, 0L, (acc, x) -> acc + (x.e - x.s + 1))")
          .as("dup_tokens"),
        size(col("__spans")).cast("long").as("n_spans"),
        col("toks"), col("__spans"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"), col("n_spans"),
        round(col("dup_tokens") / size(col("toks")), 4).as("dup_frac"),
        md5(concat_ws(" ", transform(
          array_except(sequence(lit(1), size(col("toks"))),
            expr("flatten(transform(__spans, x -> sequence(x.s, x.e)))")),
          p => element_at(col("toks"), p)))).as("keep_hash"))
  }

  /** Shared front half of [[dupPassages]] / [[dupSubstrings]]:
    * `base` = (doc_id, toks, th) tokenized docs, `spans` = one row per
    * qualifying doc with `__spans`, the ascending disjoint MAXIMAL
    * token spans (1-based, inclusive struct<s,e>) covered by any
    * word-`n`-gram occurring in >= `minDocs` distinct documents
    * ([[spanArrays]]).
    *
    * Both frames materialize once (`Materializer`): base feeds the
    * gram stream AND the final reassembly join, grams feed the
    * df-count AND the coverage semi-join — without the materialization
    * the tokenize+hash pipeline runs ~3x (measured 2.5 -> 1.4 s median
    * at sf0.1; the cleaned corpus needs the token arrays anyway, so
    * materializing them is what a production pass does).
    *
    * Scale shape: NO pair fanout — this never materializes doc pairs.
    * One groupBy on the gram hash (partial-aggregated distinct-doc
    * count) and a semi-join back on the same key; a stop-phrase gram
    * shared by 10^6 docs costs one counter, not O(df^2) pairs, so no
    * df-cap is needed for safety — `minDocs` only tunes sensitivity.
    */
  private def coveredPositions(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Long, extraCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val mat = Materializer.of(df.sparkSession)
    // withScanParallelism: the tokenize+hash pass must not run inside
    // a single under-split scan task (see the helper's scaladoc)
    val base = mat(withScanParallelism(
        df.select(col(idCol).as("doc_id") +: col(textCol).as("__text") +:
          extraCols.map(col): _*), Seq(col("doc_id")))
      .select(col("doc_id") +: tokens(col("__text")).as("toks") +:
        extraCols.map(col): _*)
      .filter(size(col("toks")) >= n)
      .withColumn("th", hashTokens(col("toks"))))
    // positions are 1-based (pos p covers tokens [p, p+n-1]); grams
    // keep duplicates here — positions matter, and the distinct-doc
    // count below dedups per doc on its own
    val grams = mat(base
      .select(col("doc_id"),
        posexplode(gramHashes(col("th"), n)).as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("sh")))
    val dupSh = grams.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("__d"))
      .filter(col("__d") >= minDocs)
      .select("sh")
    (base, spanArrays(
      grams.join(dupSh, Seq("sh"), "left_semi").select("doc_id", "pos"), n))
  }

  /** Per-doc MAXIMAL repeated spans from qualifying gram-START rows
    * (doc_id, pos), merged entirely IN-ROW (r18, VERDICT #5's
    * positions-as-array device): one doc-keyed collect_list replaces
    * the explode-to-covered-positions + gaps-and-islands window chain
    * the whole ExactSubstr family ran —
    *
    *   - the doc_id exchange now carries ONE row per qualifying gram
    *     instead of `n` exploded positions per gram (§2.3 shuffle
    *     fewer bytes, factor n), and collect_list partial-aggregates
    *     map-side, so per-row shuffle overhead collapses into arrays;
    *   - the WindowExec sort+lag+running-sum passes, the r17 adjacent-
    *     dup drop, and the (doc_id, __sid) re-aggregation disappear —
    *     span assembly is a row-local interval merge over the sorted
    *     start array;
    *   - downstream joins against `base` become doc-level 1:1 (one row
    *     per doc with its span array) instead of span-level.
    *
    * Exactness: a width-n gram at start p covers [p, p+n-1]. Starts
    * are unique per doc (one gram per position), so over the ascending
    * start array the covered intervals — all the same width — form one
    * maximal island exactly while consecutive starts satisfy
    * next <= prev + n (overlap or adjacency); a later interval can
    * never bridge a gap an earlier pair left because ends ascend with
    * starts. So `s` = starts where the chain breaks, `e` = last start
    * of each run + (n-1), zipped positionally — the same maximal
    * islands the old window's `tp > lag(tp)+1` test produced over the
    * exploded positions (spec-pinned row-identical in DedupSpec's
    * family tests + the oracle gate over all six queries).
    *
    * Per-doc array size: one entry per qualifying gram start — bounded
    * by the doc's own token count, the family's existing per-doc
    * in-row bound (base already carries the full `toks` array per
    * row).
    */
  private[operators] def spanArrays(hits: DataFrame, n: Int): DataFrame =
    hits.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col("doc_id"), expr(s"""
        zip_with(
          filter(transform(__ps, (p, i) -> CASE
              WHEN i = 0 THEN p
              WHEN p > element_at(__ps, i) + $n THEN p
              ELSE CAST(NULL AS INT) END),
            x -> x IS NOT NULL),
          filter(transform(__ps, (p, i) -> CASE
              WHEN i = size(__ps) - 1 THEN p
              WHEN element_at(__ps, i + 2) > p + $n THEN p
              ELSE CAST(NULL AS INT) END),
            x -> x IS NOT NULL),
          (s, e) -> struct(s AS s, e + ${n - 1} AS e)
        ) AS __spans"""))

  /** D7b: maximal repeated-substring report — the ExactSubstr view of
    * the [[dupPassages]] machinery (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": remove repeated SUBSTRINGS,
    * not just whole near-dup documents). Overlapping/adjacent cross-doc
    * `n`-gram hits merge into MAXIMAL repeated token spans per doc
    * (the in-row interval merge of [[spanArrays]]); each span carries a
    * content hash so identical substrings are one identity across the
    * corpus. Output is the span-length distribution:
    * (span_len, n_spans, n_docs, n_substrings) — the report a curation
    * run reads to pick its removal threshold (ExactSubstr uses 50
    * tokens) before cleaning.
    *
    * Scale shape: inherits zero-pair-fanout from [[coveredPositions]];
    * span assembly is row-local over one doc-keyed aggregate, the base
    * join is doc-level 1:1, spans re-explode only for the per-span
    * content hash, and the final distribution aggregates span rows, a
    * frame ~|corpus| / mean span length. Nothing driver-side.
    */
  def dupSubstrings(df: DataFrame, idCol: String, textCol: String, n: Int,
      minDocs: Long = 2): DataFrame = {
    // r18: spans arrive as per-doc arrays ([[spanArrays]]) — the base
    // join is doc-level 1:1 and spans re-explode only here, where the
    // per-span content hash genuinely needs a row per span
    val (base, spans) = coveredPositions(df, idCol, textCol, n, minDocs)
    spans.join(base, "doc_id")
      .select(col("doc_id"), col("toks"), explode(col("__spans")).as("sp"))
      .select(col("doc_id"),
        (col("sp.e") - col("sp.s") + 1).cast("long").as("span_len"),
        md5(concat_ws(" ",
          slice(col("toks"), col("sp.s"), col("sp.e") - col("sp.s") + 1)))
          .as("__sh"))
      .groupBy(col("span_len"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("__sh")).as("n_substrings"))
      .orderBy(col("span_len"))
  }

  /** D7d: the [[dupSubstrings]] distribution faceted by a per-doc
    * attribute (`byCol` — source, language, shard...): which slice of
    * the corpus carries the boilerplate decides WHERE to aim the
    * removal threshold, and a global distribution hides exactly that
    * (one crawl source full of templated pages looks identical to
    * mild corpus-wide duplication). Note the repeated-gram test stays
    * CORPUS-GLOBAL — a span shared across two sources counts for
    * both; only the reporting facets.
    *
    * Same zero-pair-fanout chain; the facet column rides the base
    * frame (no extra join), and the distribution gains one grouping
    * key. Output: (`byCol`, span_len, n_spans, n_docs, n_substrings).
    */
  def dupSubstringsBy(df: DataFrame, idCol: String, textCol: String,
      byCol: String, n: Int, minDocs: Long = 2): DataFrame = {
    // r18: same positions-as-array shape as [[dupSubstrings]]; the
    // facet column still rides the base frame
    val (base, spans) = coveredPositions(df, idCol, textCol, n, minDocs,
      extraCols = Seq(byCol))
    spans.join(base, "doc_id")
      .select(col(byCol), col("doc_id"), col("toks"),
        explode(col("__spans")).as("sp"))
      .select(col(byCol), col("doc_id"),
        (col("sp.e") - col("sp.s") + 1).cast("long").as("span_len"),
        md5(concat_ws(" ",
          slice(col("toks"), col("sp.s"), col("sp.e") - col("sp.s") + 1)))
          .as("__sh"))
      .groupBy(col(byCol), col("span_len"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("__sh")).as("n_substrings"))
      .orderBy(col(byCol), col("span_len"))
  }

  /** D7c: the ExactSubstr REMOVAL step — clean each doc by deleting
    * only maximal repeated spans of at least `minSpanLen` tokens (Lee
    * et al. 2022 use 50; [[dupSubstrings]]' distribution is how the
    * threshold gets picked). [[dupPassages]] is the threshold-0
    * special case of this; a threshold keeps short incidental
    * overlaps (idioms, named entities) while deleting the
    * boilerplate/quotation spans that actually hurt training.
    *
    * Per doc with >= 1 qualifying span: token counts before/after,
    * span count, and `keep_hash` — the md5 of the doc with ONLY the
    * qualifying spans removed. Same zero-pair-fanout shape and same
    * doc-keyed single window as the rest of the family; the qualifying
    * spans re-explode to covered positions (bounded by the doc's own
    * length) and the kept tokens assemble via the array_except mask
    * (O(n + dup) per doc — see [[dupPassages]]' rationale).
    */
  def dupCleanAtThreshold(df: DataFrame, idCol: String, textCol: String,
      n: Int, minSpanLen: Int, minDocs: Long = 2): DataFrame = {
    require(minSpanLen >= n,
      s"minSpanLen=$minSpanLen < n=$n: no span can be shorter than one gram")
    val (base, spans) = coveredPositions(df, idCol, textCol, n, minDocs)
    cleanCoveredAtThreshold(base, spans, minSpanLen)
  }

  /** Shared removal tail of [[dupCleanAtThreshold]] /
    * [[scrubContamination]]: keep spans >= `minSpanLen` (a row-local
    * array filter over the [[spanArrays]] frame — no window, no
    * re-aggregation), drop docs with none left, and emit per affected
    * doc (n_tokens, removed_tokens, n_spans_removed, keep_hash). The
    * covered position list for the array_except mask assembles in-row
    * from the qualifying spans (disjoint by construction, so
    * removed_tokens is an exact fold of span lengths).
    */
  private def cleanCoveredAtThreshold(base: DataFrame, spans: DataFrame,
      minSpanLen: Int): DataFrame =
    spans
      .select(col("doc_id"),
        expr(s"filter(__spans, x -> x.e - x.s + 1 >= $minSpanLen)")
          .as("__spans"))
      .filter(size(col("__spans")) > 0)
      .join(base, "doc_id")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        expr("aggregate(__spans, 0L, (acc, x) -> acc + (x.e - x.s + 1))")
          .as("removed_tokens"),
        size(col("__spans")).cast("long").as("n_spans_removed"),
        md5(concat_ws(" ", transform(
          array_except(sequence(lit(1), size(col("toks"))),
            expr("flatten(transform(__spans, x -> sequence(x.s, x.e)))")),
          p => element_at(col("toks"), p)))).as("keep_hash"))

  /** C8: decontamination SCRUBBING — the removal counterpart of the C1
    * contamination AUDIT: delete from each training document every
    * maximal span (>= `minSpanLen` tokens) whose `n`-grams appear
    * anywhere in the evaluation corpus, instead of dropping or merely
    * flagging the document. This is the "scrub eval overlaps out of
    * the training set" pass run before every serious pretraining job
    * (the GPT-3 appendix's 13-gram removal is this operator at n=13);
    * span-level removal preserves the rest of a long document that a
    * doc-level drop would waste.
    *
    * Shape: the [[dupPassages]] machinery with the df-count replaced
    * by a semi-join against the eval corpus's DISTINCT gram set — the
    * eval set is tiny next to the training corpus, so the semi-join
    * shuffles on the gram hash with the eval side far below the
    * training side (broadcastable when the eval corpus is small
    * enough; Spark decides from stats). Still zero pair fanout; span
    * assembly is the row-local [[spanArrays]] fold, array_except
    * assembly unchanged.
    */
  def scrubContamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int, minSpanLen: Int): DataFrame = {
    require(minSpanLen >= n,
      s"minSpanLen=$minSpanLen < n=$n: no span can be shorter than one gram")
    val (base, grams) = scrubFrames(train, idCol, textCol, n)
    // materialized, then explicitly SIZED ([[sizedGramSide]]): the
    // static planner broadcast a 5.5M-row / 384 MiB eval gram relation
    // off its unmodeled post-explode estimate, and checkpoint stats
    // (originStats) + AQE never correct a statically-chosen broadcast
    // (SURVEY §28.6). The count-then-hint makes the degradation
    // graceful and exact: broadcast while the eval set is genuinely
    // small, spill-safe sort-merge past the cap.
    val evalSh = sizedGramSide(Materializer.of(train.sparkSession)(
      shingleSets(eval, idCol, textCol, n)
        .select("sh").distinct()))
    cleanCoveredAtThreshold(base, spanArrays(
      grams.join(evalSh, Seq("sh"), "left_semi").select("doc_id", "pos"), n),
      minSpanLen)
  }

  /** Row cap under which a (materialized) gram/shingle set side of a
    * probe join gets an explicit broadcast hint; above it, an explicit
    * sort-merge hint. Why explicit at all: Spark does not model
    * explode fan-out, so the STATIC size estimate of a post-explode
    * distinct is wrong by orders of magnitude, and a localCheckpoint
    * carries the pre-checkpoint plan's stats (`originStats`) — AQE
    * never revisits a statically-chosen broadcast. SURVEY §28.6
    * measured the failure: a 5.5M-row / 384 MiB eval gram relation
    * broadcast past the 10 MB threshold. A 24g local JVM absorbs
    * that; cluster executors OOM. 1M rows ~ tens of MB as a
    * HashedRelation.
    */
  private[operators] val GramBroadcastMaxRows = 1000000L

  /** Size a MATERIALIZED gram-set join side explicitly: one count over
    * the checkpoint (cheap), then a broadcast hint up to
    * [[GramBroadcastMaxRows]] rows or a sort-merge hint over it —
    * spill-safe, never an executor-memory bet on a misestimate.
    */
  private[operators] def sizedGramSide(df: DataFrame): DataFrame =
    if (df.count() <= GramBroadcastMaxRows) broadcast(df) else df.hint("merge")

  /** Shared front half of the C8 scrub family: materialized train
    * (doc_id, toks, th) + the positional gram stream (doc_id, pos,
    * sh). `grams` is NOT materialized here — single-consumer callers
    * ([[scrubContamination]]) stream it; multi-consumer callers
    * ([[scrubAttribution]]) wrap it themselves.
    */
  private def scrubFrames(train: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val base = Materializer.of(train.sparkSession)(withScanParallelism(
        train.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        Seq(col("doc_id")))
      .select(col("doc_id"), tokens(col("__text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .withColumn("th", hashTokens(col("toks"))))
    val grams = base
      .select(col("doc_id"),
        posexplode(gramHashes(col("th"), n)).as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("sh"))
    (base, grams)
  }

  /** C8b: per-eval-suite decontamination ATTRIBUTION — the D7d
    * faceting discipline applied to [[scrubContamination]]: the
    * release datasheet question is not just "how much was scrubbed"
    * but "WHICH eval suite forced it". Removal stays CORPUS-GLOBAL
    * (the scrubbed spans are decided by the union of all suites'
    * grams — exactly what the C8 pass deletes); only the accounting
    * facets. Per suite: the distinct (train doc, token position)
    * pairs inside REMOVED spans that the suite's own grams cover, and
    * the count of train docs with at least one such position. A span
    * covered by two suites counts for both — Σ attributed_tokens over
    * suites >= the scrub's removed total, by design (the datasheet
    * wants per-suite blame, not a partition).
    *
    * Scale shape: inherits C8's — eval-side blocking (the suite-
    * tagged gram set is eval-sized), train never shuffled for the
    * probes (semi/inner joins against the tiny gram tables broadcast;
    * growing eval degrades to a shuffled semi-join, measured in
    * SURVEY §28.6), row-local span assembly, and the final
    * aggregate is suite-cardinality rows. The gram stream is consumed
    * twice (global covered + suite tagging), so it materializes once
    * here.
    */
  def scrubAttribution(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, suiteCol: String, n: Int,
      minSpanLen: Int): DataFrame = {
    require(minSpanLen >= n,
      s"minSpanLen=$minSpanLen < n=$n: no span can be shorter than one gram")
    val mat = Materializer.of(train.sparkSession)
    val (base, grams0) = scrubFrames(train, idCol, textCol, n)
    val grams = mat(grams0)
    // both eval-side tables materialized AND explicitly sized — the
    // same rogue-broadcast guard as [[scrubContamination]]'s evalSh
    // r17 opt: the suite facet rides the explode as a passthrough
    // column ([[shingleSetsWith]]) — the former join-back shuffled the
    // exploded eval-gram frame on doc_id for a column the projection
    // could carry for free
    val evalSuiteSh = mat(shingleSetsWith(
        eval.withColumn("__suite", col(suiteCol)),
        idCol, textCol, n, Seq("__suite"))
      .select(col("__suite").as("suite"), col("sh")).distinct())
    val evalSuiteShSized = sizedGramSide(evalSuiteSh)
    val evalSh = sizedGramSide(mat(evalSuiteSh.select("sh").distinct()))
    // removed (doc_id, tp) pairs re-explode from the qualifying spans —
    // the suiteCov semi-join below genuinely needs position rows; the
    // span merge itself is the row-local [[spanArrays]] fold
    val removed = spanArrays(
        grams.join(evalSh, Seq("sh"), "left_semi").select("doc_id", "pos"), n)
      .select(col("doc_id"),
        explode(expr(s"filter(__spans, x -> x.e - x.s + 1 >= $minSpanLen)"))
          .as("sp"))
      .select(col("doc_id"),
        explode(sequence(col("sp.s"), col("sp.e"))).as("tp"))
    val suiteCov = grams.join(evalSuiteShSized, Seq("sh"))
      .select(col("doc_id"), col("suite"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
      .distinct()
    suiteCov.join(removed, Seq("doc_id", "tp"), "left_semi")
      .groupBy(col("suite"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("attributed_tokens"))
      .orderBy(col("suite"))
  }

  // ------------------------------------------------------------ MinHash

  /** Universal-hash family h_i(x) = (a_i*x + b_i) mod P over 30-bit
    * inputs; constants from a fixed LCG so the oracle embeds the same
    * literals. P = 2^31 - 1 (prime), products stay < 2^61.
    */
  val MinhashP: Long = 2147483647L
  val MinhashK: Int = 16
  val BandRows: Int = 4
  val NBands: Int = MinhashK / BandRows

  val minhashPerms: Vector[(Long, Long)] = {
    var x = 1234567891L
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 3) & 0x3fffffffL // 30 bits
    }
    Vector.fill(MinhashK)((next() | 1L, next()))
  }

  /** Permutation `i` of one gram hash: ((sh mod 2^30) * a_i + b_i) mod P. */
  private def minhash(sh: Column, i: Int): Column = {
    val (a, b) = minhashPerms(i)
    (sh % 1073741824L * a + b) % MinhashP
  }

  /** Band `j`'s bucket hash: md5 of its [[BandRows]] minhash values
    * `mh(i)`, joined by "_".
    */
  private def bandHash(mh: Int => Column, j: Int): Column =
    md5(concat_ws("_", (0 until BandRows).map(k => mh(BandRows * j + k)): _*))

  /** k-column minhash signature per doc — a single groupBy over the
    * shingle rows computes all k mins (no explode-by-k).
    */
  def minhashSignatures(sets: DataFrame): DataFrame = {
    val aggs = (0 until MinhashK).map(i => min(minhash(col("sh"), i)).as(s"mh_$i"))
    sets.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The per-row twin of [[minhashSignatures]] + [[bandHashes]]: the
    * [[NBands]] band hashes of one doc's distinct gram-hash array
    * `grams`, in band order. Give `grams` a projection of its own:
    * every minhash reads it.
    */
  private[graft] def rowBandHashes(grams: Column): Seq[Column] = {
    val mh = (i: Int) => array_min(transform(grams, minhash(_, i)))
    (0 until NBands).map(bandHash(mh, _))
  }

  /** (doc_id, band, bh): md5 of each band's minhash slice. Bands are
    * emitted by exploding one array of structs — a union of per-band
    * selects would re-run the whole signature pipeline once per band.
    * (Persisting instead regressed: an unmaterialized InMemoryRelation
    * hides stats from AQE and the candidate join planned badly.)
    */
  def bandHashes(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NBands).map { j =>
      struct(lit(j).as("band"), bandHash(i => col(s"mh_$i"), j).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** D3: MinHash+LSH near-dup. Candidates = pairs sharing any band
    * bucket (shuffle on (band, bh)); exact Jaccard verification runs
    * only over candidates — the 100 TB scale path.
    *
    * `maxBucket` (0 = uncapped, the gate default) guards the skewed-
    * shingle regime SURVEY §26.4 measured: a popular contiguous
    * stop-phrase block pins each perm's minimum to the SAME shingle
    * for every doc carrying the block, so docs whose whole band is
    * block-dominated land in ONE bucket — bucket width grows with the
    * corpus and the band join's pair volume quadratically (the exact
    * failure simhashBandPairs already capped). Dropping buckets wider
    * than `maxBucket` restores the linear slope at a bounded recall
    * cost: a true near-dup pair agrees on (almost) every band, so it
    * still meets in a non-degenerate one — the probe's planted pairs
    * survive a 200-cap at 100% while the skewed corpus's wall returns
    * to the uniform arm's.
    *
    * A negative `maxBucket` is rejected ([[requireBucketCap]]).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      n: Int, num: Long, den: Long, maxBucket: Long = 0): DataFrame = {
    // materialize the shingle index once ([[Materializer]], same
    // device as the capped ngram path): its four consumers — the
    // signature aggregation, both exact-verify probes, and the size
    // lookup — would each re-run the scan+shingle pipeline otherwise.
    // Measured 1.8 -> 1.4 s median at sf0.1; the cluster query
    // consuming this pair set dropped 2.1 -> 1.4 s. Checkpointing the
    // BANDS as well measured no further win (the signature agg is one
    // pass) — re-confirmed at 400k/800k docs by interleaved
    // arms (SURVEY §26.8): the checkpointed band join reads 15-18%
    // SLOWER (the write costs more than re-running the one-pass agg
    // on each join side saves).
    val sets = Materializer.of(df.sparkSession)(
      shingleSets(df, idCol, textCol, n))
    lshPairsFromSets(sets, num, den, maxBucket)
  }

  /** The MinHash+LSH pair chain over a prebuilt (ideally materialized)
    * shingle-set frame: band-bucket candidates, exact-verified at
    * `num/den`. `maxBucket > 0` drops band buckets wider than the cap
    * before they emit O(width²) pairs (see [[minhashLsh]]).
    */
  private[operators] def lshPairsFromSets(sets: DataFrame, num: Long,
      den: Long, maxBucket: Long = 0): DataFrame = {
    requireBucketCap(maxBucket)
    // the band frame is deliberately NOT checkpointed: interleaved
    // arms (SURVEY §26.8) measured the checkpointed band join 15-18%
    // SLOWER than recomputing the one-pass signature agg on each join
    // side (the write costs more than the agg saves when the shingle
    // index is already local)
    val bands = widthFiltered(bandHashes(minhashSignatures(sets)),
      Seq("band", "bh"), maxBucket)
    val cand = bands.as("x")
      .join(bands.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardFilter(exactShared(cand, sets, sets), sets, num, den)
  }

  /** D10: the dedup family's measured recall gate — the S4 pattern
    * (ANN recall@k vs brute force) applied to near-dup detection: how
    * much of the EXACT n-gram Jaccard truth set (the D2 capped
    * production path — candidate df-cap, exact full-overlap counts)
    * does the D3 MinHash+LSH path recover, bucketed by true Jaccard?
    * LSH recall is probabilistic with a known S-curve
    * (P = 1 - (1 - j^r)^b; r=[[BandRows]], b=k/r), so the per-bucket
    * numbers are the measured version of that curve — the
    * bands/rows/threshold trade a 100 TB deployment tunes on a corpus
    * SAMPLE before committing the config, exactly like S4's
    * recall/nprobe sweep.
    *
    * Both chains share ONE shingle index, materialized here and only
    * here: the truth chain ([[jaccardPairs]], the same verifier as
    * [[ngramJaccard]], cap `maxDf` counted over this index) and the
    * LSH chain's signatures read the same stored rows — the corpus is
    * scanned once. The Jaccard
    * bucket is pure integer arithmetic
    * (`10*shared div (n_a+n_b-shared)` — floor of 10j with no float
    * boundary), so bucket membership cannot disagree with the oracle.
    * Output: (bucket, n_true, n_hit, recall), bucket num*10/den..10.
    */
  def lshRecall(df: DataFrame, idCol: String, textCol: String, n: Int,
      num: Long, den: Long, maxDf: Long = 0): DataFrame = {
    val sets = Materializer.of(df.sparkSession)(
      shingleSets(df, idCol, textCol, n))
    val truth = jaccardPairs(sets, num, den, maxDf)
    // r18 (the annRecallCandidates predicate device, applied to the
    // dedup gate): for a TRUTH pair, membership in the LSH arm's
    // output is a ROW-LOCAL predicate — the uncapped LSH chain emits
    // exactly the pairs that (a) share >= 1 band bucket at the same
    // band index and (b) pass the same exact-Jaccard threshold the
    // truth row already passed with the same full-set shared/n_a/n_b
    // (the capped count adds the hot overlap back, so truth `shared`
    // IS the full |A∩B|). So the whole hit tower — band explode +
    // band-bucket self-join + candidate distinct + exactShared's two
    // shingle joins + jaccardFilter's two size joins — collapses into
    // two narrow id-keyed joins of a per-doc 4-band-hash array and an
    // element-wise equality (§2.4). Band arrays use the identical
    // md5-slice expressions as [[bandHashes]], so collisions (and
    // therefore hits) are bit-identical to the standalone chain
    // (spec-pinned in DedupSpec against the two-tower reference).
    val bandArr = array((0 until NBands).map(bandHash(i => col(s"mh_$i"), _)): _*)
    val bands = minhashSignatures(sets)
      .select(col("doc_id"), bandArr.as("__bands"))
    val isHit = (1 to NBands).map(j =>
      element_at(col("__ba"), j) === element_at(col("__bb"), j))
      .reduce(_ || _)
    truth
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"))
      .withColumn("bucket", expr("10 * shared div (n_a + n_b - shared)"))
      .join(bands.select(col("doc_id").as("doc_a"),
        col("__bands").as("__ba")), "doc_a")
      .join(bands.select(col("doc_id").as("doc_b"),
        col("__bands").as("__bb")), "doc_b")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(isHit, 1).otherwise(0)).cast("long").as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_true"), 4))
      .orderBy(col("bucket"))
  }

  /** D8: incremental dedup — classify an INCOMING batch against an
    * EXISTING corpus without ever pairing the corpus with itself: the
    * 100 TB ingest shape (the corpus is huge, already deduped, and
    * static; the increment is small and arrives continuously). Exact
    * duplicates resolve on the content hash; near-dups come from
    * minhash band buckets joined incoming x corpus ONLY — corpus
    * bands never join each other — then verified by exact shingle
    * Jaccard at `num/den`: [[exactShared]] recounts each candidate over
    * the two indexes and [[jaccardAtLeast]] is the integer test every
    * near-dup and ER path applies.
    *
    * One row per incoming doc: `status` in dup_exact | near_dup | new
    * (exact wins when both hold), `match_id` = the smallest matching
    * existing id, null for new. Docs shorter than `n` tokens have no
    * shingles and can only match exactly.
    */
  def incremental(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int, num: Long,
      den: Long): DataFrame = {
    val ex = existing.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val inc = incoming.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // exact: hash-keyed equi join; existing collapses to one row per
    // hash first so a heavily-duplicated corpus hash costs one probe
    val exHash = ex.groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("exact_match"))
    val exact = inc.withColumn("__h", md5(col("text")))
      .join(exHash, Seq("__h"), "left")
      .select(col("doc_id"), col("exact_match"))
    // near: band-bucket join, incoming x existing only. Both shingle
    // indexes materialize once ([[Materializer]], same device as
    // minhashLsh): each feeds its signature aggregation, the exact
    // verify probe, and the size lookup — three re-runs of the
    // scan+shingle pipeline per side otherwise (measured 1.7 -> 1.6 s
    // median at sf0.1 locally; the win grows with corpus size since
    // the existing side dominates).
    val mat = Materializer.of(existing.sparkSession)
    val exSets = mat(shingleSets(ex, "doc_id", "text", n))
    val incSets = mat(shingleSets(inc, "doc_id", "text", n))
    val exBands = bandHashes(minhashSignatures(exSets))
    val incBands = bandHashes(minhashSignatures(incSets))
    val cand = incBands.as("x")
      .join(exBands.as("y"), Seq("band", "bh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val near = exactShared(cand, incSets, exSets)
      .join(incSets.groupBy(col("doc_id").as("doc_a"))
        .agg(count(lit(1)).as("n_a")), "doc_a")
      .join(exSets.groupBy(col("doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_b")), "doc_b")
      .filter(jaccardAtLeast(col("shared"), col("n_a"), col("n_b"), num, den))
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min(col("doc_b")).as("near_match"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "dup_exact")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  // ------------------------------------------------------------ SimHash

  /** 30-bit simhash per doc over its 3-gram shingle hashes: bit j is
    * set when the majority of shingle hashes have bit j set. Shingles
    * (not bare tokens) keep simhashes discriminative on corpora with a
    * shared vocabulary — with token sets, most documents land within a
    * few Hamming bits of each other and pair volume explodes. One
    * groupBy, 30 agg columns.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = shingleSets(df, idCol, textCol, 3)
      .select(col("doc_id"), (col("sh") % 1073741824L).as("h"))
    val bitAggs = (0 until 30).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"b_$j")
    }
    val grouped = toks.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    val sim = (0 until 30)
      .map(j => when(col(s"b_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col("doc_id"), sim.as("simhash"))
  }

  /** D4: SimHash near-dup — pairs within Hamming distance `maxHamming`,
    * candidate-generated by 10-bit band equality (pigeonhole: any pair
    * with <= 2 differing bits shares a band; maxHamming 3 is verified
    * exactly so banding is a recall heuristic, as in production use).
    *
    * `maxBucket > 0` drops band buckets wider than maxBucket from
    * candidate generation — a popular band value (boilerplate-heavy
    * corpora collapse many docs into one bucket) would otherwise emit
    * O(width²) pairs in a single task; a negative value is rejected
    * ([[requireBucketCap]]). Run exact dedup FIRST: a bucket that is wide because of true
    * byte-identical duplicates should never reach this operator.
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxBucket: Long = 0): DataFrame =
    simhashBandPairs(simhashes(df, idCol, textCol), maxHamming, maxBucket)

  /** The production 3x10-bit band-join chain over a prebuilt simhash
    * frame (see [[simhashNearDup]] for the semantics and the
    * materialization rationale).
    */
  private def simhashBandPairs(sims: DataFrame, maxHamming: Int,
      maxBucket: Long): DataFrame = {
    val bandStructs = (0 until 3).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("simhash"), 10 * j).bitwiseAND(lit(1023L)).as("bv"))
    }
    val all = sims
      .select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    // materialized once: BOTH sides of the self-join read the band
    // rows, so the shingle+simhash pipeline (and the bucket-width
    // window when capped) would run twice (measured 2.5 -> 1.4 s
    // median at sf0.1); the cap filters the materialized frame
    val bands = cappedBands(all, Seq("band", "bv"), maxBucket)
    bands.as("x").join(bands.as("y"), Seq("band", "bv"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("hamming"))
      // r17 opt: row-local Hamming filter BEFORE the pair distinct —
      // the exchange dedups only true matches, not the whole band
      // fanout (see bandedHammingPairs)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** D4b: SimHash recall gate — the D10 measurement applied to the
    * production simhash banding: how much of the EXACT Hamming-<=
    * `maxHamming` pair set does the 3x10-bit band join (with its
    * hot-bucket guard) recover, per Hamming distance?
    *
    * The truth arm is [[bandedHammingPairs]] at 5 bands of 6 bits —
    * pigeonhole-EXACT for maxHamming <= 4 (5 bands > 4 errors leaves
    * one band identical), so ground truth costs a band join, never an
    * all-pairs scan. The production arm is [[simhashBandPairs]]'s 3
    * bands: pigeonhole only guarantees Hamming <= 2 there, so by
    * construction recall(0) = recall(1) = recall(2) = 1 modulo
    * bucket-guard drops, and the Hamming-3 row measures the 1+1+1
    * error split the 3-band config structurally misses plus the
    * guard's cost — the number that decides whether a deployment
    * needs the 4th band. Both arms read ONE materialized simhash
    * frame.
    *
    * Truth-arm cost contract: with `truthMaxBucket = 0` (the
    * gate-default) the 5x6-bit truth join is UNCAPPED — a degenerate
    * hot 6-bit band bucket (a near-constant simhash slice over a huge
    * corpus sample) can still emit O(width²) pairs, so the uncapped
    * gate is a SAMPLE-SCALE tool: run it on the corpus sample you
    * tune banding with, not the full corpus (ADVICE_r13 — the gate
    * must not become the straggler it measures). Set
    * `truthMaxBucket > 0` to cap the truth arm's buckets too; that
    * trades a documented recall-OF-TRUTH loss (true pairs whose every
    * shared band is hot never enter the denominator) for a bounded
    * worst case, the same trade [[bandedHammingPairs]]' own scaladoc
    * spells out.
    */
  def simhashRecall(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Long = 0,
      truthMaxBucket: Long = 0): DataFrame = {
    require(maxHamming <= 4,
      s"maxHamming=$maxHamming: the 5x6-bit truth arm is exact only to 4")
    val sims = Materializer.of(df.sparkSession)(
      simhashes(df, idCol, textCol))
    val truth = bandedHammingPairs(sims, "doc_id", "simhash",
      totalBits = 30, nBands = 5, maxHamming = maxHamming,
      maxBucket = truthMaxBucket)
    val found = simhashBandPairs(sims, maxHamming, maxBucket)
      .select(col("doc_a"), col("doc_b"), lit(1).as("__hit"))
    truth
      .join(found, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_true"), 4))
      .orderBy(col("hamming"))
  }

  /** Banded Hamming near-dup over ANY precomputed integer fingerprint
    * column (image dHash M5, audio fingerprints, simhashes computed
    * elsewhere): pairs within `maxHamming` bits, candidates generated
    * by equality on `nBands` equal-width bit bands of the hash.
    *
    * When `nBands > maxHamming` the pigeonhole argument makes
    * candidate generation EXACT, not a recall heuristic: `maxHamming`
    * differing bits can touch at most `maxHamming` bands, leaving at
    * least one band identical — so the banded pair set equals the
    * brute-force O(n²) scan's (q_mm_neardup gates this against an
    * all-pairs DuckDB oracle). With `nBands <= maxHamming` it degrades
    * gracefully into the production recall heuristic, same as
    * [[simhashNearDup]]'s banding.
    *
    * Scale shape: the only shuffle keys on (band, band-value) — pair
    * volume is proportional to true bucket collisions, never |corpus|².
    * `maxBucket` drops degenerate buckets (a flat fingerprint shared
    * by a huge corpus slice) before they emit O(width²) pairs
    * (a negative value is rejected, see [[requireBucketCap]]); run
    * exact dedup first so byte-identical
    * media never reaches here.
    */
  def bandedHammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      totalBits: Int, nBands: Int, maxHamming: Int,
      maxBucket: Long = 0): DataFrame = {
    require(totalBits > 0 && totalBits <= 63,
      s"totalBits=$totalBits (need 1..63: band values must stay " +
        "non-negative in a signed long)")
    require(nBands > 0 && totalBits % nBands == 0,
      s"nBands=$nBands must divide totalBits=$totalBits")
    val width = totalBits / nBands
    val mask = (1L << width) - 1L
    val bandStructs = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("h"), width * j).bitwiseAND(lit(mask)).as("bv"))
    }
    // rename FIRST, explode in a second select: band structs reference
    // "h", and aliasing + referencing in one select binds them as
    // lateral column aliases (a resolver error under explode)
    val all = hashes
      .select(col(idCol).as("doc_id"), col(hashCol).as("h"))
      .select(col("doc_id"), col("h"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("h"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    // materialized once — both sides of the self-join read the band
    // rows (same device as simhashNearDup); the cap filters the
    // materialized frame
    val bands = cappedBands(all, Seq("band", "bv"), maxBucket)
    // r17 opt: the Hamming filter runs BEFORE the pair distinct. The
    // filter is row-local (one bit_count), while the distinct is the
    // band join's only full exchange — ordering it after the filter
    // dedups only true matches (≤ nBands copies each) instead of the
    // entire candidate fanout (Σ bucket², measured 3.1M candidate
    // rows vs ~5k survivors on the sf0.1 audio corpus). Same result
    // set: distinct∘filter ≡ filter∘distinct for a row-local predicate.
    bands.as("x").join(bands.as("y"), Seq("band", "bv"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.h ^ y.h)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
