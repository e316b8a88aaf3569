package graft.queries

import graft.{SparkEntry, SparkSuite}
import graft.operators.Materializer

/** Continuous plan audit over the ENTIRE gated surface — the invariant
  * half of the plan review (PlanDump writes the episodic half), run
  * on every `sbt test` instead of episodically:
  *
  *   1. no query may plan a cartesian product (wrong at every scale
  *      and every stats estimate);
  *   2. the SortMergeJoin set must stay inside the documented
  *      large x large allowlist — a dim table growing past
  *      autoBroadcastJoinThreshold, a stats loss, or a dropped
  *      broadcast() hint shows up as a NEW SMJ here as a red test,
  *      not as a plan-dump diff a human must catch. (AQE can still
  *      demote an SMJ to broadcast at runtime; it never adds one, so
  *      the build-time set is the conservative bound.)
  *
  * Plans build under the `lazy` materializer so constructing the ~130
  * plans stays cheap — the materializer only truncates lineage, it
  * never introduces a join, so neither invariant is affected. (Not
  * zero-job: the iterative fits run their driver-side training at
  * CONSTRUCTION time — BPE's per-round argmax collects, the PQ/IVF
  * deterministic-sample builds — so this suite executes those small
  * sf0.001 jobs; the audit itself still never materializes a query's
  * result.)
  */
class PlanAuditSpec extends SparkSuite {

  /** Queries whose plans legitimately sort-merge: both sides are
    * data-sized at scale (per the PLANS_r8 review — corpus x corpus
    * joins in dedup/contamination/snapshot-diff, the bucket kernel's
    * rank join, and Q2's part x partsupp min-cost correlation).
    */
  private val smjAllowlist = Set(
    "q2_min_cost", "q_contamination", "q_dedup_incremental",
    "q_dedup_ngram", "q_mad_anomaly_rs", "q_snapshot_diff",
    // the r13 recall gates COMPOSE the allowlisted corpus x corpus
    // chains (D10 = the ngram posting self-join + the LSH band join;
    // D4b = two simhash band self-joins) and add a truth x found pair
    // join whose sides are both data-sized pair sets — same class,
    // same rationale, documented in SURVEY §24 and PLANS_r13
    "q_dedup_recall", "q_simhash_recall",
    // ER's left x right posting join on the shingle hash — the same
    // data-sized x data-sized class as q_dedup_ngram's self-join;
    // neither side is broadcastable at corpus scale by construction
    "q_er_pairs", "q_er_match",
    // image near-dup's dHash band self-join — the same corpus x corpus
    // class as the simhash band join; both sides are the full decoded
    // fingerprint table, not broadcastable at image-corpus scale
    "q_mm_neardup",
    // M9 nests the M8 acoustic band self-join (the identical class)
    // and adds the D6 labels x corpus join-back — under this lazy
    // audit the un-truncated fingerprint lineage sits on both sides;
    // at runtime the banded frontier materializes and AQE picks the
    // strategy per round (the q_dedup_clusters/q_pagerank note below)
    "q_mm_aclusters",
    // M10 is the same chain + D11's labels x fingerprints quality
    // join-back and members x winners join — q_dedup_keep's class on
    // the audio fingerprint table
    "q_mm_akeep",
    // SemDeDup's within-cell pair self-join — both sides are the full
    // cell-assigned embedding table (corpus x corpus, shuffled on cell
    // id); candidate volume is bounded by cell sizes, not by making a
    // side broadcastable. The cells subplan is materialized at runtime
    // so the SMJ joins two reads of one small table; at corpus scale
    // the shuffle-on-cell SMJ is exactly the intended plan
    "q_dedup_semantic",
    // the incremental form's incoming x corpus cell-mate join — same
    // class: at ingest scale BOTH sides are data-sized (a day's batch
    // x the corpus), shuffled on cell id, broadcast only when AQE
    // measures the batch small
    "q_dedup_semantic_inc",
    // LPM enrichment's winners-back join keys on the host VALUE (v4:
    // parsed number; v6: the raw host string): the winner table is
    // distinct-host-sized (up to 4B v4 hosts, unbounded v6), so it is
    // deliberately NOT force-broadcast — AQE demotes to broadcast at
    // runtime when it measures small (block-table joins stay hinted)
    "q_lpm_enrich", "q_lpm6_enrich",
    // attribution's conversions x touches join keys on user_id with
    // both sides carved from the event stream — data x data at any
    // scale (the interval-join class); per-conversion fanout bounded
    // by the lookback, never by broadcast
    "q_attribution",
    // triangle counting's wedge + closure self-joins of the oriented
    // edge table (and the co-purchase edge generator's lineitem
    // self-join feeding it): every side is edge-scale — data x data
    // at any graph size, shuffled on node ids; the degree-ordered
    // orientation bounds the wedge fan-out, not broadcastability
    "q_triangles",
    // clustering coefficient = one projection on the SAME triangle
    // pipeline — inherits q_triangles' wedge/closure SMJ class verbatim
    "q_clustering_coef",
    // autocorrelation's series x shifted-series equi-join on
    // (key, t + lag): both sides are the SAME aggregated series table
    // (hosts x horizon at metrics scale — data x data), shuffled on
    // the series key; a broadcast would materialize the whole series
    "q_acf",
    // cross-correlation: the identical join with two series tables
    "q_ccf",
    // canonical-survivor selection: labels x corpus (quality column
    // join-back) and members x winners (cluster-keyed) — labels and
    // winners are corpus-/cluster-sized (data x data at any corpus
    // size; a pathological corpus is one giant cluster), both joins
    // shuffle on the id/cluster key the D6 propagation already
    // partitioned on; AQE demotes to broadcast when winners measure
    // small at runtime
    "q_dedup_keep") ++
    // SMJ only under THIS audit's lazy materializer: at runtime these
    // materialize their shared truth/index/frontier subplans, the
    // consumers read small materialized tables, and the SMJs are gone
    // (verified in the PLANS_r8 dump after the r8 sharing fix). The
    // lazy audit keeps the full un-truncated lineage, so the planner
    // sees the pre-materialization join shape.
    Set("q_ann_recall", "q_ann_ivf_sweep", "q_dedup_clusters",
      // C8b attribution: the gram stream and the suite-tagged eval
      // gram set are each consumed twice (global covered + per-suite
      // blame) and materialize once at runtime (Dedup.scrubAttribution
      // wraps both); under the lazy audit the planner sees the full
      // unshared lineage on both sides of the suite joins. Runtime
      // plan: eval-sized tables broadcast (PLANS_r15 dump).
      "q_decontaminate_by",
      // pagerank's per-iteration edges x ranks join: both sides are
      // node/edge-scale (data x data at any graph size — a web graph's
      // rank table is billions of rows), and consecutive iterations
      // reuse the node-id hash partitioning. Under the eager runtime
      // materializer each round joins a small materialized frontier
      // and AQE picks the strategy per round.
      "q_pagerank") ++
    // SMJ at sf0.1+ only (PLANS_r9, AQE-final plans): both join
    // per-network aggregates that the preceding rank/spine window
    // already hash-partitioned on network — the SMJ reuses that
    // partitioning with a sort and no exchange, where a broadcast
    // would ADD one. Correct plan, documented, allowlisted so a stats
    // shift at sf0.001 doesn't read as a regression.
    Set("q_mad_anomaly", "q_baseline_ewma")

  private lazy val plans: Map[String, String] = {
    val prev = spark.conf.getOption(Materializer.ConfKey)
    spark.conf.set(Materializer.ConfKey, "lazy")
    try SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
    } finally prev match {
      case Some(v) => spark.conf.set(Materializer.ConfKey, v)
      case None => spark.conf.unset(Materializer.ConfKey)
    }
  }

  test("no gated query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (name, plan) if plan.contains("CartesianProduct") => name }
    assert(offenders.isEmpty,
      s"cartesian product planned by: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("SortMergeJoins stay inside the documented large-x-large allowlist") {
    val smjs = plans.collect {
      case (name, plan) if plan.contains("SortMergeJoin") => name }.toSet
    val rogue = smjs -- smjAllowlist
    assert(rogue.isEmpty,
      s"undocumented SortMergeJoin planned by: ${rogue.toSeq.sorted.mkString(", ")} " +
        "— either restore the broadcast or document the join in the " +
        "allowlist + PLANS dump")
  }

  test("the SMJ detector fires when broadcasts are disabled") {
    // sensitivity check: force every equi-join to SMJ on one
    // representative star-join query and confirm the detector's
    // predicate sees what the allowlist test would flag
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = AnalyticsQueries.q5Join(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "q5_join kept broadcasting with the threshold disabled — the " +
          "allowlist test would not catch a real broadcast regression")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
  }
}
