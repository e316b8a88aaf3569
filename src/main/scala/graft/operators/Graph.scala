package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A61: fixed-point integer PageRank over an edge list (SURVEY.md
  * §2.2) — the graph-centrality operator a web-scale corpus curation
  * pipeline runs over its host/link graph (link-based quality signals
  * for crawl corpora; the same kernel ranks any bipartite interaction
  * graph such as customer↔product).
  *
  * Why FIXED-POINT: the textbook recurrence
  *
  *   r'(v) = (1-d)·S + d · Σ_{u→v} r(u)/deg(u)
  *
  * sums float contributions whose accumulation ORDER a distributed
  * engine does not define — two runs (or two engines) legitimately
  * disagree in the last ulps, which the bit-exact gate would surface
  * as flakiness. Scaling ranks to integer units of 1/`scale` makes
  * every step exact and order-independent: contributions are
  * `rank_fp div deg` (truncating long division), sums are long sums
  * (associative, commutative, overflow-raising via decimal below),
  * and damping is `(dampNum · inflow) div dampDen`. The result is a
  * deterministic algorithm — "PageRank computed in integer
  * micro-units" — identical on any engine, any partitioning, any
  * core count. The ≤1-unit truncation loss per edge is bounded by
  * `n_edges/scale` total mass, irrelevant at scale=10⁹.
  *
  * Scale shape: `deg` is computed once and reused every round; each
  * iteration is ONE equi-join (edges × ranks on src — both sides
  * shuffle-partition on the node id, so consecutive rounds reuse the
  * same partitioning) + one map-side-combinable sum on dst. Lineage
  * is truncated per round via [[Materializer]] so round N's plan does
  * not replay rounds 1..N-1 — the standard iterative-frontier
  * discipline shared with [[Dedup.clusters]]. The integer ladder also
  * buys an EXACT early exit: a round whose ranks reproduce the
  * previous round's bit-for-bit is a permanent fixpoint of the
  * deterministic map, so the remaining rounds are skipped — no
  * epsilon argument needed, result-identical to running them.
  *
  * Overflow honesty: inflow sums accumulate in decimal(38,0) (a long
  * sum would wrap silently past 2^63 under non-ANSI semantics — the
  * r9-ADVICE lesson); the product `dampNum · inflow` stays decimal
  * and the final `div` returns to long with an explicit overflow
  * raise, so a pathological scale/graph combination fails loudly,
  * never silently wrong.
  */
object Graph {

  /** Fixed-point PageRank. `edges`: two integral columns `src`, `dst`
    * (directed; feed each undirected edge in both orientations). The
    * node universe is the nodes with OUT-degree ≥ 1 (a node never
    * appearing as src has undefined out-degree; dangling dsts receive
    * mass but are not ranked — pre-add reverse edges or self-loops if
    * every node must appear). Returns (node, deg, rank_fp) with
    * rank_fp in units of 1/scale and the stationary "mass 1 per node"
    * convention (r₀ = scale).
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000000L,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    pageRankCounted(edges, iters, scale, dampNum, dampDen)._1

  /** [[pageRank]] plus the number of rounds actually executed — the
    * early-exit observability hook the specs (and a deployment's job
    * metrics) read.
    */
  private[graft] def pageRankCounted(edges: DataFrame, iters: Int,
      scale: Long = 1000000000L, dampNum: Long = 85,
      dampDen: Long = 100): (DataFrame, Int) = {
    require(iters >= 0, s"iters=$iters (want >= 0)")
    require(scale > 0 && dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"bad fixed-point config: scale=$scale damp=$dampNum/$dampDen")
    val mat = Materializer.of(edges.sparkSession)
    // r18: hash-partition the LOOP-INVARIANT edge table by src ONCE,
    // before its checkpoint — every round's contribution join requires
    // src-hash partitioning, and without this the big side re-shuffled
    // per round while the ranks side (already node-hash from the
    // previous round's aggregate) did not (guide §2.4: establish the
    // partitioning once). The checkpoint preserves the partitioning,
    // so co-partitioned rounds skip the edge exchange entirely.
    val e = mat.eager(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).repartition(col("src")))
    val deg = mat.eager(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    // teleport term: truncating long division, same `div` the SQL twin
    // runs — exact whenever dampDen divides (dampDen-dampNum)·scale
    val base = (dampDen - dampNum) * scale / dampDen
    var ranks = deg.select(col("node"), col("deg"),
      lit(scale).as("rank_fp"))
    // r17 opt: the early-exit candidate gate is an order-independent
    // rank-multiset fingerprint (bit_xor of xxhash64(node, rank_fp))
    // that RIDES each round's materialization as an observed metric —
    // zero extra jobs on non-converged rounds, where the previous form
    // paid a node-keyed join + isEmpty scan per round. Fingerprint
    // equality only NOMINATES a round; the exact join still verifies
    // before any round is skipped, so a (astronomically unlikely) xor
    // collision costs one wasted verify join, never a wrong result.
    val fpExpr = expr("bit_xor(xxhash64(node, rank_fp))")
    var prevFp = {
      val r = ranks.agg(fpExpr).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var executed = 0
    var converged = false
    for (i <- 1 to iters if !converged) {
      val inflow = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("rank_fp div deg").as("__c"))
        .groupBy(col("dst").as("node"))
        // decimal(38,0) sum: overflow NULLs (caught below) instead of
        // a silent long wrap
        .agg(sum(col("__c").cast("decimal(38,0)")).as("__in"))
      // left join keeps source-only nodes (out-edges, no in-edges) in
      // the universe at the teleport floor. `__has` distinguishes "no
      // inflow row" (legitimately 0) from "decimal sum overflowed to
      // NULL" — a bare coalesce would mask the latter as zero mass.
      val damped = expr(s"cast(($dampNum * coalesce(__in, 0)) " +
        s"div $dampDen as bigint)")
      val overflowed = (col("__has").isNotNull && col("__in").isNull) ||
        damped.isNull
      val next = deg.join(inflow.withColumn("__has", lit(1)),
          Seq("node"), "left")
        .select(col("node"), col("deg"),
          when(overflowed, raise_error(lit(
              s"Graph.pageRank: rank overflow at iter $i — lower `scale`")))
            .otherwise(lit(base) + damped)
            .as("rank_fp"))
      // Exact integer early-exit: the update is a DETERMINISTIC map,
      // so ranks reproducing themselves bit-for-bit is a permanent
      // fixpoint — every remaining round would be a no-op. Candidate
      // detection is the free observed fingerprint (see fpExpr above);
      // only a fingerprint-equal round pays the exact node-keyed
      // verify join. Float PageRank needs an epsilon argument here;
      // the fixed-point ladder makes "unchanged" well-defined. The
      // last round's check could only skip work that no longer
      // exists — never pay it.
      if (i < iters) {
        val (nextM, fp) = Materializer.eagerObserved(mat, next, fpExpr)
        converged = fp == prevFp && nextM.as("n")
          .join(ranks.select(col("node"), col("rank_fp").as("__prev")), "node")
          .filter(col("rank_fp") =!= col("__prev"))
          .isEmpty
        prevFp = fp
        ranks = nextM
      } else ranks = mat.eager(next)
      executed = i
    }
    (ranks, executed)
  }

  /** A66: exact triangle counting over an undirected edge list — the
    * graph-cohesion operator (clustering-coefficient numerators,
    * community density, link-farm detection on a web corpus's host
    * graph).
    *
    * Algorithm: degree-ordered orientation (the classic
    * node-iterator++ / Schank-Wagner discipline). Every undirected
    * edge {u,v} is directed from the (degree, id)-SMALLER endpoint to
    * the larger, which makes the orientation acyclic and bounds every
    * out-degree by O(√m) regardless of how skewed the raw degree
    * distribution is — the hub that would generate deg² wedges as a
    * wedge CENTER has the highest (deg, id) order, so every edge
    * points INTO it and it centers none. Each triangle {a,b,c} is then
    * counted exactly once, as the wedge b←a→c (b,c out-neighbors of
    * the smallest-order vertex a, ordered b < c by the same total
    * order) closed by the oriented edge b→c.
    *
    * Scale shape: two data×data equi-joins — wedges = oriented ⋈
    * oriented on the center (fan-out Σ C(outdeg,2) ≤ m·O(√m), the
    * orientation's guarantee) and closure = wedges ⋈ oriented on BOTH
    * endpoints (an equi-join because orientation is a function of the
    * graph: if {b,c} is an edge at all, its oriented form is exactly
    * (b,c) — no OR-of-directions probe, which would degrade to a
    * nested loop on any engine). The oriented edge table materializes
    * once (three consumers); no global rank/row_number — the (deg, id)
    * pair IS the total order, so nothing funnels through a single
    * partition.
    *
    * Returns one row per node: (node, deg, n_tri) with n_tri the
    * number of triangles the node participates in (Σ n_tri = 3 ×
    * triangle count).
    *
    * `edges`: integral columns `src`, `dst`, any orientation;
    * self-loops dropped, duplicates collapsed.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val mat = Materializer.of(edges.sparkSession)
    val e = mat.eager(edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    // r18: ONE explode pass over the materialized edges instead of a
    // two-scan union (the pagerank edge-build device), and the degree
    // table MATERIALIZES — its three consumers (both orientation
    // sides, the final per-node join) each re-ran the scan+aggregate
    // otherwise (guide §2.4; at corpus scale deg is node-count-sized,
    // linear to checkpoint, and the orientation joins read it twice)
    val deg = mat(e
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    // orient each edge by (deg, id); carry the head's (deg, id) so the
    // wedge join can order the two out-neighbors without re-joining deg
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val tailFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = mat.eager(e.join(du, "u").join(dv, "v")
      .select(
        when(tailFirst, col("u")).otherwise(col("v")).as("s"),
        when(tailFirst, col("v")).otherwise(col("u")).as("t"),
        when(tailFirst, col("dv")).otherwise(col("du")).as("tdeg")))
    val w1 = oriented.select(col("s").as("a"), col("t").as("b"),
      col("tdeg").as("bdeg"))
    val w2 = oriented.select(col("s").as("a"), col("t").as("c"),
      col("tdeg").as("cdeg"))
    val wedges = w1.join(w2, Seq("a"))
      .filter(col("bdeg") < col("cdeg") ||
        (col("bdeg") === col("cdeg") && col("b") < col("c")))
    val tri = wedges.join(
      oriented.select(col("s").as("b"), col("t").as("c")), Seq("b", "c"))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** A70: per-node local clustering coefficient — triangles the node
    * participates in over the C(deg, 2) wedges it centers, the
    * completion of the PageRank/triangles/coefficient triad for
    * link-farm detection on a web corpus's host graph (a farm's hub
    * has high degree and near-zero closure; a genuine community
    * closes).
    *
    * Scale shape: [[triangles]] does ALL the work (its per-node output
    * already carries both deg and n_tri) — the coefficient is one
    * row-local projection, no additional join or shuffle. Both
    * operands are exact integers (2·n_tri and deg·(deg−1)), so the
    * single IEEE division is bit-deterministic across engines; deg < 2
    * centers no wedge and yields NULL (not 0 — "no closure" and "no
    * wedges to close" are different datasheet facts).
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame =
    triangles(edges).select(col("node"), col("deg"), col("n_tri"),
      when(col("deg") >= 2,
        (col("n_tri") * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"))
        .as("coef"))
}
