package graft.graph

import graft.SparkSpec

/** Graph operators on a hand-checked 6-vertex graph:
  *
  *   triangle 1-2-3, path 3-4, triangle 4-5-6, isolated edge 7-8
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L),
    (3L, 4L),
    (4L, 5L), (5L, 6L), (4L, 6L),
    (7L, 8L)
  ).toDF("src", "dst")

  private lazy val canonical = GraphOps.canonicalEdges(edges, "src", "dst")

  test("canonicalEdges orders, dedups, drops self-loops") {
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 3L)).toDF("src", "dst")
    val got = GraphOps.canonicalEdges(messy, "src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("triangleCounts finds both triangles") {
    val got = GraphOps.triangleCounts(canonical)
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == 1 && got(2L) == 1)
    assert(got(3L) == 1 && got(4L) == 1) // each in exactly one triangle
    assert(got(5L) == 1 && got(6L) == 1)
    assert(got(7L) == 0 && got(8L) == 0)
  }

  test("shortestPathLengths: undirected hop counts to landmarks") {
    val got = GraphOps.shortestPathLengths(canonical, Seq(1L))
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got(1L) == 0)
    assert(got(2L) == 1 && got(3L) == 1)
    assert(got(4L) == 2)
    assert(got(5L) == 3 && got(6L) == 3)
    assert(!got.contains(7L) && !got.contains(8L)) // unreachable → no row
  }

  test("pageRankDF: ranks sum ≈ V on a regular component, symmetric vertices equal") {
    val ranks = GraphOps.pageRankDF(canonical, numIter = 20)
      .as[(Long, Double)].collect().toMap
    // 7 and 8 are symmetric → equal rank; both get rank 1.0 (deg-1 pair is
    // closed: each contributes its whole rank to the other)
    assert(math.abs(ranks(7L) - ranks(8L)) < 1e-9)
    assert(math.abs(ranks(7L) - 1.0) < 1e-6)
    // 1 and 2 are symmetric in the first triangle
    assert(math.abs(ranks(1L) - ranks(2L)) < 1e-9)
    // 3 and 4 (the bridge vertices) have the highest ranks
    val top = ranks.toSeq.sortBy(-_._2).take(2).map(_._1).toSet
    assert(top == Set(3L, 4L))
  }

  test("stronglyConnectedComponents: cycles collapse, DAG edges separate") {
    import spark.implicits._
    // 1→2→3→1 is an SCC; 3→4→5 is a chain (each its own SCC); 5→6→5 an SCC.
    val dir = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val comp = GraphOps.stronglyConnectedComponents(dir, numIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(4L) == 4L)
    assert(comp(5L) == 5L && comp(6L) == 5L)
  }

  test("pageRankDF matches GraphX staticPageRank on the same graph") {
    import org.apache.spark.graphx.{Edge, Graph}
    val sym = GraphOps.symmetric(canonical)
    val g = Graph.fromEdges(
      sym.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }, 0)
    val gx = g.staticPageRank(10, 0.15).vertices.collect().toMap
    val df = GraphOps.pageRankDF(canonical, numIter = 10)
      .as[(Long, Double)].collect().toMap
    df.foreach { case (v, r) =>
      assert(math.abs(gx(v) - r) < 1e-6, s"vertex $v: graphx=${gx(v)} df=$r")
    }
  }

  test("pageRankDF runs its setup stages plus one stage per iteration") {
    // SETUP_STAGES: the canonical-edge dedup exchange, the adjacency shuffle
    // and the result stage. The DataFrame loop, one plan numIter joins deep,
    // ran 46 stages here.
    val SETUP_STAGES = 3
    val metrics = graft.QueryMetrics.attach(spark)
    try {
      metrics.snapshot() // drain earlier events before the window opens
      metrics.reset()
      GraphOps.pageRankDF(canonical, numIter = 10).collect()
      val stages = metrics.snapshot().stages
      assert(stages <= 10 + SETUP_STAGES, s"$stages stages for 10 iterations")
    } finally metrics.detach()
  }

  test("labelPropagationDF: deterministic communities, hand-computed") {
    // 4 synchronous iterations with the (count DESC, label ASC) tie-break,
    // traced by hand: the two triangles settle on labels 1 and 3; the
    // isolated 7-8 edge oscillates each iteration (the classic synchronous-
    // LPA bipartite oscillation) and lands on self-labels after an even
    // number of rounds.
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                   4L -> 3L, 5L -> 3L, 6L -> 3L,
                   7L -> 7L, 8L -> 8L)
    val got = GraphOps.labelPropagationDF(canonical, 4)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    val again = GraphOps.labelPropagationDF(canonical, 4)
      .as[(Long, Long)].collect().toMap
    assert(again == got, "LPA must be reproducible run-to-run")
  }

  test("corenessDF: clique, bridge, and triangle peel to hand-checked cores") {
    // 4-clique {1,2,3,4} — bridge 4-5-6 — triangle {6,7,8}. Coreness: clique
    // members 3 (each has in-clique degree 3); the bridge vertex 5 keeps
    // degree 2 between the two cores → 2; triangle members 2. The 3-core
    // peel must CASCADE: removing 5 drops 6 to degree 2, which unravels the
    // triangle — a one-round peel would wrongly leave {6,7,8} in the 3-core.
    val g = GraphOps.canonicalEdges(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (6L, 8L)
    ).toDF("src", "dst"), "src", "dst")
    val got = GraphOps.corenessDF(g, maxK = 4)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
                   5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L)
    assert(got == want)
    // membership API: the 3-core is exactly the clique
    val core3 = GraphOps.kCoreDF(g, 3).as[Long].collect().toSet
    assert(core3 == Set(1L, 2L, 3L, 4L))
    assert(GraphOps.kCoreDF(g, 4).count() == 0)
  }

  test("hitsDF: hand-computed hub/authority structure on a directed star") {
    // hubs {1,2} point at authorities {3,4,5}: 1 covers all three, 2 covers
    // {3,4}; plus a detached edge 6→7. Traced by hand (max-normalization):
    //   auth(3)=auth(4)=1 (the shared targets), auth(5)<1, hub(1)=1,
    //   hub(2)≈0.78 after convergence, and the detached pair decays toward 0.
    val directed = Seq(
      (1L, 3L), (1L, 4L), (1L, 5L),
      (2L, 3L), (2L, 4L),
      (6L, 7L)
    ).toDF("src", "dst")
    val got = GraphOps.hitsDF(directed, numIter = 8)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // source-only vertices have auth 0; sink-only vertices have hub 0
    for (v <- Seq(1L, 2L, 6L)) assert(got(v)._2 == 0.0, s"auth($v)")
    for (v <- Seq(3L, 4L, 5L, 7L)) assert(got(v)._1 == 0.0, s"hub($v)")
    // 3 and 4 are symmetric shared targets → exactly equal, and the max auth
    assert(got(3L)._2 == got(4L)._2)
    assert(got(3L)._2 == 1.0)
    assert(got(5L)._2 > 0.0 && got(5L)._2 < 1.0)
    // 1 covers a superset of 2's targets → strictly the better hub (max = 1)
    assert(got(1L)._1 == 1.0)
    assert(got(2L)._1 > 0.0 && got(2L)._1 < 1.0)
    // fixed point: h solves 2h²+h−2=0 → h=(−1+√17)/4 ≈ 0.78078; 8 sync
    // iterations sit ~1e-3 above the limit
    assert(math.abs(got(2L)._1 - 0.78078) < 5e-3)
    // the detached hub/authority pair is dominated and decays
    assert(got(6L)._1 < got(2L)._1 && got(7L)._2 < got(5L)._2)
  }
}
