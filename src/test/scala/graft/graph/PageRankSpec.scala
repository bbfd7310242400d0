package graft.graph

import graft.SparkSpec
import graft.queries.GraphQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The superstep kernel behind the three PageRank operators. On the
  * GraphOpsSpec graph and on the sf0.001 customer edges, its ranks are
  * bit-identical at any shuffle partition count (outputs must not depend on
  * core count) and stay within 1e-12 of a plain-Scala power iteration, from
  * zero iterations up to a 60-iteration run. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val reset = 0.15
  private val sources = Set(1L, 5L)

  /** One operator plus what the reference needs to replay it: the edge
    * weight, the starting rank and the teleport term of a vertex. */
  private case class Op(name: String, run: (DataFrame, Int) => DataFrame,
                        weight: (Long, Long) => Double,
                        init: Long => Double, teleport: Long => Double)

  private val ops = Seq(
    Op("pageRankDF", GraphOps.pageRankDF(_, _),
      (_, _) => 1.0, _ => 1.0, _ => reset),
    Op("pageRankWeightedDF",
      (e, n) => GraphOps.pageRankWeightedDF(
        e.withColumn("weight", ((col("src") + col("dst")) % 5 + 1).cast("double")), n),
      (s, d) => ((s + d) % 5 + 1).toDouble, _ => 1.0, _ => reset),
    Op("personalizedPageRankDF",
      GraphOps.personalizedPageRankDF(_, sources.toSeq.sorted, _),
      (_, _) => 1.0,
      v => if (sources(v)) 1.0 / sources.size else 0.0,
      v => if (sources(v)) reset / sources.size else 0.0))

  private lazy val graphs: Map[String, DataFrame] = Map(
    "hand graph" -> GraphOps.canonicalEdges(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (7L, 8L)).toDF("src", "dst"), "src", "dst"),
    "sf0.001 customer edges" -> GraphOps.canonicalEdges(
      GraphQueries.customerEdges(spark, sfDir), "src", "dst"))

  private def ranks(op: Op, graph: String, numIter: Int): Map[Long, Double] = {
    val rows = op.run(graphs(graph), numIter).as[(Long, Double)].collect()
    val byVertex = rows.toMap
    assert(byVertex.size == rows.length, s"${op.name} repeats a vertex")
    byVertex
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Synchronous power iteration over both directions of every edge:
    * rank(v) = teleport(v) + (1 − reset)·Σ rank(u)·w(u,v)/Σw(u,·). */
  private def reference(op: Op, edges: Seq[(Long, Long)], numIter: Int): Map[Long, Double] = {
    val sym = edges.flatMap { case (a, b) =>
      val w = op.weight(a, b)
      Seq((a, b, w), (b, a, w))
    }
    val wdeg = sym.groupMapReduce(_._1)(_._3)(_ + _)
    var rank = wdeg.map { case (v, _) => v -> op.init(v) }
    for (_ <- 0 until numIter) {
      val in = sym.groupMapReduce(_._2) { case (u, _, w) => rank(u) * w / wdeg(u) }(_ + _)
      rank = rank.map { case (v, _) => v -> (op.teleport(v) + (1 - reset) * in.getOrElse(v, 0.0)) }
    }
    rank
  }

  for (op <- ops; graph <- Seq("hand graph", "sf0.001 customer edges")) {
    test(s"${op.name} on the $graph: bit-identical ranks at 1, 3 and 8 shuffle partitions") {
      val runs = Seq(1, 3, 8).map { n =>
        withShufflePartitions(n)(ranks(op, graph, 10))
          .map { case (v, r) => v -> java.lang.Double.doubleToLongBits(r) }
      }
      assert(runs.head.nonEmpty)
      assert(runs.forall(_ == runs.head))
    }

    test(s"${op.name} on the $graph: within 1e-12 of a power iteration at 0, 1, 10 and 60 iterations") {
      val edges = graphs(graph).as[(Long, Long)].collect().toSeq
      for (numIter <- Seq(0, 1, 10, 60)) {
        val got = ranks(op, graph, numIter)
        val want = reference(op, edges, numIter)
        assert(got.keySet == want.keySet, s"numIter $numIter: vertex sets differ")
        got.foreach { case (v, r) =>
          assert(math.abs(r - want(v)) <= 1e-12,
            s"numIter $numIter, vertex $v: kernel $r, reference ${want(v)}")
        }
      }
    }
  }
}
