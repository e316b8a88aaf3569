package graft.operators

import graft.SparkSuite

class GraphSpec extends SparkSuite {
  import spark.implicits._

  /** Independent reference: the identical fixed-point recurrence in
    * driver-side BigInt arithmetic (no Spark, no float).
    */
  private def referencePageRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000L, dampNum: Long = 85,
      dampDen: Long = 100): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val base = (dampDen - dampNum) * scale / dampDen
    var r: Map[Long, Long] = deg.map { case (n, _) => n -> scale }.toMap
    for (_ <- 1 to iters) {
      val inflow = edges
        .filter { case (s, _) => r.contains(s) }
        .groupBy(_._2)
        .map { case (d, es) =>
          d -> es.map { case (s, _) => BigInt(r(s) / deg(s)) }.sum
        }
      r = deg.map { case (n, _) =>
        val f = inflow.getOrElse(n, BigInt(0))
        n -> (base + (BigInt(dampNum) * f / dampDen)).toLong
      }.toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .select("node", "rank_fp").as[(Long, Long)].collect().toMap

  test("2-cycle is symmetric and stationary at full mass") {
    // each node forwards its whole rank to the other: r stays `scale`
    // up to damping: r' = 0.15 + 0.85*r; fixpoint at scale exactly
    val edges = Seq((1L, 2L), (2L, 1L))
    for (iters <- Seq(1, 3, 7)) {
      val got = run(edges, iters)
      assert(got == Map(1L -> 1000000000L, 2L -> 1000000000L),
        s"iters=$iters: $got")
    }
  }

  test("early exit: a stationary graph stops after one round, " +
      "result-identical to the full run") {
    val edges = Seq((1L, 2L), (2L, 1L))
    val (df, executed) = Graph.pageRankCounted(edges.toDF("src", "dst"), iters = 25)
    assert(executed == 1, s"executed $executed rounds, wanted 1")
    val got = df.select("node", "rank_fp").as[(Long, Long)].collect().toMap
    val full = referencePageRank(edges, 25)
    assert(got == full)
  }

  test("early exit never fires while ranks still move") {
    val edges = Seq(
      (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L),
      (2L, 4L), (3L, 5L))
    // the reference really is still moving at round 3
    assert(referencePageRank(edges, 2) != referencePageRank(edges, 3))
    val (_, executed) =
      Graph.pageRankCounted(edges.toDF("src", "dst"), iters = 3)
    assert(executed == 3, s"executed $executed rounds, wanted 3")
  }

  test("matches the driver-side BigInt recurrence on a directed graph") {
    // a small web: hub (1) pointed at by everyone, a chain, a cycle
    val edges = Seq(
      (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L),
      (2L, 4L), (3L, 5L))
    for (iters <- Seq(0, 1, 2, 4)) {
      assert(run(edges, iters) == referencePageRank(edges, iters),
        s"iters=$iters")
    }
  }

  test("hub outranks leaves; source-only nodes stay at the teleport floor") {
    // star: leaves 2..6 all point at 1; 1 points at 2 (so node 1 has
    // out-degree). node 7 points at 8's... no: 7 -> 1 only, nothing
    // points back at 7 — after one round 7 sits at base + 0.
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 1L),
      (1L, 2L), (7L, 1L))
    val got = run(edges, 3)
    val ref = referencePageRank(edges, 3)
    assert(got == ref)
    assert(got(1L) > got(2L) && got(2L) > got(7L))
    // 7 receives nothing: exactly the teleport floor after round 1+
    assert(got(7L) == 150000000L)
  }

  test("iters=0 returns the uniform start for every out-degree node") {
    val got = run(Seq((1L, 2L), (2L, 3L), (3L, 1L)), 0)
    assert(got == Map(1L -> 1000000000L, 2L -> 1000000000L,
      3L -> 1000000000L))
  }

  test("undirected (bidirectional) graph conserves mass within truncation") {
    // bidirectional edges: total fixed-point mass stays within
    // n_edges units of n_nodes * scale (each `div` loses < 1 unit)
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val edges = e0 ++ e0.map { case (a, b) => (b, a) }
    val got = run(edges, 5)
    val total = got.values.sum
    val ideal = 4L * 1000000000L
    // loss bound: < 1 unit per edge-div + 1 per damping-div, per round
    assert(total <= ideal && total >= ideal - 5 * (edges.size + 4 + 1),
      s"mass $total vs ideal $ideal")
  }

  /** Brute-force per-node triangle counts: test all node triples. */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val e = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
    val deg = nodes.map(n =>
      n -> e.count { case (a, b) => a == n || b == n }.toLong).toMap
    val tris = nodes.combinations(3).filter { c =>
      e((c(0), c(1))) && e((c(0), c(2))) && e((c(1), c(2)))
    }.toSeq
    nodes.map(n => n ->
      (deg(n), tris.count(_.contains(n)).toLong)).toMap
  }

  private def runTri(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Graph.triangles(edges.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect()
      .map { case (n, d, t) => n -> (d, t) }.toMap

  test("triangles: K4 — every node in 3 of the 4 triangles") {
    val edges = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(runTri(edges) == (1L to 4L).map(_ -> (3L, 3L)).toMap)
  }

  test("triangles: star graph has none") {
    val edges = (2L to 6L).map(n => (1L, n))
    val got = runTri(edges)
    assert(got(1L) == (5L, 0L))
    assert(got.values.forall(_._2 == 0L))
  }

  test("triangles: two triangles sharing an edge") {
    // {1,2,3} and {2,3,4}: nodes 2,3 in both
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = runTri(edges)
    assert(got == Map(1L -> (2L, 1L), 2L -> (3L, 2L),
      3L -> (3L, 2L), 4L -> (2L, 1L)))
  }

  test("triangles: duplicates, reversed orientations, self-loops normalize") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L))
    assert(runTri(edges) ==
      Map(1L -> (2L, 1L), 2L -> (2L, 1L), 3L -> (2L, 1L)))
  }

  private def runCoef(edges: Seq[(Long, Long)]): Map[Long, Option[Double]] =
    Graph.clusteringCoefficient(edges.toDF("src", "dst"))
      .collect().map(r => r.getAs[Long]("node") ->
        (if (r.isNullAt(r.fieldIndex("coef"))) None
         else Some(r.getAs[Double]("coef")))).toMap

  test("clusteringCoefficient: K4 closes every wedge — coef 1.0 everywhere") {
    val edges = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(runCoef(edges) == (1L to 4L).map(_ -> Some(1.0)).toMap)
  }

  test("clusteringCoefficient: star center is 0, degree-1 leaves NULL") {
    val edges = (2L to 6L).map(n => (1L, n))
    val got = runCoef(edges)
    assert(got(1L) == Some(0.0))
    assert((2L to 6L).forall(got(_).isEmpty))
  }

  test("clusteringCoefficient: shared-edge triangles — exact ratios") {
    // {1,2,3} + {2,3,4}: nodes 1,4 close their only wedge (1.0);
    // nodes 2,3 have deg 3 (3 wedges), 2 triangles -> 2/3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(runCoef(edges) == Map(1L -> Some(1.0), 2L -> Some(2.0 / 3),
      3L -> Some(2.0 / 3), 4L -> Some(1.0)))
  }

  test("triangles: matches brute force on a dense pseudo-random graph") {
    // deterministic edge set: 18 nodes, edge iff (a*31 + b*17) % 3 == 0
    val edges = for {
      a <- 1L to 18L; b <- (a + 1) to 18L
      if (a * 31 + b * 17) % 3 == 0
    } yield (a, b)
    assert(edges.nonEmpty)
    assert(runTri(edges) == bruteTriangles(edges))
  }
}
