package graft.graph

import graft.SparkSpec
import graft.queries.GraphQueries
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The graph operators ported onto GraphOps' superstep primitive: on the
  * GraphOpsSpec graph and on the sf0.001 customer edges their rows are
  * bit-identical at any shuffle partition count, each runs a bounded number
  * of stages, and the integer-valued ones equal GraphX's results. */
class SuperstepSpec extends SparkSpec {
  import spark.implicits._

  /** Undirected canonical edges, and directed ones with a back edge on
    * every third pair (q_scc's rule), so the graphs hold cycles. */
  private case class G(canonical: DataFrame, directed: DataFrame)

  private def graph(edges: DataFrame): G = {
    val canonical = GraphOps.canonicalEdges(edges, "src", "dst")
    G(canonical, canonical.unionByName(canonical
      .filter((col("src") + col("dst")) % 3 === 0)
      .select(col("dst").as("src"), col("src").as("dst"))))
  }

  private lazy val graphs: Map[String, G] = Map(
    "hand graph" -> graph(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (7L, 8L)).toDF("src", "dst")),
    "sf0.001 customer edges" -> graph(GraphQueries.customerEdges(spark, sfDir)))

  private val ops: Seq[(String, G => DataFrame)] = Seq(
    "hitsDF" -> (g => GraphOps.hitsDF(g.directed, numIter = 8)),
    "labelPropagationDF" -> (g => GraphOps.labelPropagationDF(g.canonical, 4)),
    "kCoreDF" -> (g => GraphOps.kCoreDF(g.canonical, 2)),
    "corenessDF" -> (g => GraphOps.corenessDF(g.canonical, maxK = 4)),
    "triangleCounts" -> (g => GraphOps.triangleCounts(g.canonical)),
    "connectedComponents" -> (g => GraphOps.connectedComponents(g.canonical)),
    "shortestPathLengths" -> (g => GraphOps.shortestPathLengths(g.canonical, everyVertex(g))),
    "stronglyConnectedComponents" -> (g => GraphOps.stronglyConnectedComponents(g.directed)))

  /** Every vertex of `g` as a landmark, plus one absent from it. */
  private def everyVertex(g: G): Seq[Long] =
    GraphOps.symmetric(g.canonical).select("src").as[Long].distinct().collect().toSeq :+ -1L

  /** Rows as strings, doubles by their bits, in sorted order. */
  private def bits(df: DataFrame): Seq[String] = df.collect().map { row =>
    row.toSeq.map {
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
      case x => String.valueOf(x)
    }.mkString(",")
  }.toSeq.sorted

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  for ((name, op) <- ops; g <- Seq("hand graph", "sf0.001 customer edges"))
    test(s"$name on the $g: bit-identical rows at 1, 3 and 8 shuffle partitions") {
      val runs = Seq(1, 3, 8).map(n => withShufflePartitions(n)(bits(op(graphs(g)))))
      assert(runs.head.nonEmpty)
      assert(runs.forall(_ == runs.head))
    }

  /** Stages the collect of `df` runs. */
  private def stages(df: => DataFrame): Int = {
    val metrics = graft.QueryMetrics.attach(spark)
    try {
      metrics.snapshot() // drain earlier events before the window opens
      metrics.reset()
      df.collect()
      metrics.snapshot().stages
    } finally metrics.detach()
  }

  // Each bound is SETUP plus one stage per superstep (its shuffle) plus one
  // per count or max job (its result stage). SETUP = 3 on canonical edges
  // (the dedup exchange, the adjacency shuffle, the result stage) and 4 on
  // the directed edges, whose union reads the dedup exchange twice. On the
  // hand graph: HITS' 8 iterations are 16 supersteps and 16 max jobs; LPA's
  // 4 iterations 4 supersteps; triangles 3 supersteps; CC reaches its
  // fixpoint in 3 supersteps and 4 count jobs; BFS from landmark 1 reaches
  // depth 3 in 4 supersteps and 5 count jobs; the 2-core peel takes 1
  // superstep and 2 count jobs, and coreness for k = 1..4 takes 0 + 1 + 2 + 0
  // supersteps and 1 + 2 + 3 + 1 count jobs. SCC's bound is its measured
  // count, two rounds of an alive count, trim, colour and confirm; GraphX's
  // stronglyConnectedComponents runs 119 stages on the same graph.
  private val handBounds: Seq[(String, Int, G => DataFrame)] = Seq(
    ("hitsDF", 4 + 16 + 16, g => GraphOps.hitsDF(g.directed, numIter = 8)),
    ("labelPropagationDF", 3 + 4, g => GraphOps.labelPropagationDF(g.canonical, 4)),
    ("triangleCounts", 3 + 3, g => GraphOps.triangleCounts(g.canonical)),
    ("connectedComponents", 3 + 3 + 4, g => GraphOps.connectedComponents(g.canonical)),
    ("shortestPathLengths", 3 + 4 + 5, g => GraphOps.shortestPathLengths(g.canonical, Seq(1L))),
    ("kCoreDF", 3 + 1 + 2, g => GraphOps.kCoreDF(g.canonical, 2)),
    ("corenessDF", 3 + 3 + 7, g => GraphOps.corenessDF(g.canonical, maxK = 4)),
    ("stronglyConnectedComponents", 4 + 37,
      g => GraphOps.stronglyConnectedComponents(g.directed)))

  for ((name, bound, op) <- handBounds)
    test(s"$name on the hand graph runs at most $bound stages") {
      val n = stages(op(graphs("hand graph")))
      info(s"$name: $n stages")
      assert(n <= bound, s"$name ran $n stages")
    }

  test("kCoreDF fails loudly when maxRounds ends before the fixpoint") {
    // the 3-core of GraphOpsSpec's coreness graph: round 1 drops 5, 7 and 8,
    // round 2 drops 6, round 3 drops nothing
    val g = GraphOps.canonicalEdges(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (6L, 8L)).toDF("src", "dst"), "src", "dst")
    intercept[IllegalArgumentException](GraphOps.kCoreDF(g, 3, maxRounds = 2).collect())
    assert(GraphOps.kCoreDF(g, 3, maxRounds = 3).as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  // ---- parity with GraphX on the sf0.001 customer graph

  private def graphX(edges: DataFrame): Graph[Int, Int] =
    Graph.fromEdges(edges.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }, 0)

  private def rowsOf(df: DataFrame): Set[Row] = df.collect().toSet

  private lazy val customers = graphs("sf0.001 customer edges")

  test("triangleCounts equals GraphX triangleCount on the sf0.001 customer graph") {
    val gx = graphX(customers.canonical).triangleCount().vertices.toDF("vertex", "n_triangles")
    val got = rowsOf(GraphOps.triangleCounts(customers.canonical))
    assert(got.exists(_.getInt(1) > 0), "no triangles: a vacuous comparison")
    assert(got == rowsOf(gx))
  }

  test("connectedComponents equals GraphX connectedComponents on the sf0.001 customer graph") {
    val gx = graphX(customers.canonical).connectedComponents().vertices.toDF("vertex", "component")
    assert(rowsOf(GraphOps.connectedComponents(customers.canonical)) == rowsOf(gx))
  }

  test("shortestPathLengths equals GraphX ShortestPaths on the sf0.001 customer graph") {
    // q_shortest_paths' wider same-nation window (key difference <= 60), so
    // that paths run several hops
    val wide = GraphOps.canonicalEdges(
      GraphQueries.customerEdges(spark, sfDir, (a, b) => b <= a + 60), "src", "dst")
    val landmarks = everyVertex(graph(wide))
    val gx = ShortestPaths.run(graphX(GraphOps.symmetric(wide)), landmarks)
      .vertices.flatMap { case (v, m) => m.map { case (lm, d) => (v, lm, d) } }
      .toDF("vertex", "landmark", "distance")
    val got = rowsOf(GraphOps.shortestPathLengths(wide, landmarks))
    assert(got.exists(_.getInt(2) > 1), "no multi-hop path: a vacuous comparison")
    assert(got == rowsOf(gx))
  }

  test("stronglyConnectedComponents equals GraphX on the sf0.001 customer graph") {
    val gx = graphX(customers.directed).stronglyConnectedComponents(Int.MaxValue)
      .vertices.toDF("vertex", "component")
    val got = rowsOf(GraphOps.stronglyConnectedComponents(customers.directed))
    assert(got.exists(r => r.getLong(0) != r.getLong(1)), "no cycle: a vacuous comparison")
    assert(got == rowsOf(gx))
  }
}
