package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Graph operators over (src, dst[, weight]) edge DataFrames (SURVEY G1-G4).
  *
  * The reference builds a GraphFrame from similarity matches and runs
  * PageRank / shortestPaths / triangleCount (reference graph/GraphUtils.scala:16-41);
  * the GraphFrames jar is unavailable offline. Every iterative operator here
  * runs on one private primitive, [[superstep]], in the shape of Pregelix
  * (a superstep is one message join plus one group-by) and GraphX (vertex
  * state co-partitioned with adjacency): one shuffle per superstep, and a
  * vertex combines its messages in ascending (source, value) order, so every
  * output is bit-identical at any partition count and stays
  * oracle-checkable. State is rebuilt from shuffle outputs: nothing is
  * cached or checkpointed, and a lost block is recomputed from shuffle
  * files. [[linkPrediction]] is not iterative and stays a DataFrame plan.
  *
  * The undirected operators treat every (src, dst) row as an edge in both
  * directions (the reference's similarity graph is undirected); [[hitsDF]]
  * and [[stronglyConnectedComponents]] take direction as the semantics.
  */
object GraphOps {
  import Ordering.Double.TotalOrdering

  /** Canonicalize an undirected edge list: src < dst, dedup. */
  def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
      least(col(srcCol), col(dstCol)).cast("long").as("src"),
      greatest(col(srcCol), col(dstCol)).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Both directions of a canonical edge list. */
  def symmetric(canonical: DataFrame): DataFrame =
    canonical.unionByName(
      canonical.select(col("dst").as("src"), col("src").as("dst")))

  /** Result rows as a DataFrame, like `spark.implicits`' `toDF`. */
  private implicit class Rows[T <: Product: TypeTag](rows: RDD[T]) {
    def toDF(names: String*): DataFrame = SparkSession.active.createDataFrame(rows).toDF(names: _*)
  }

  /** Every vertex with its adjacency `A` and its state `S`. */
  private type Vertices[A, S] = RDD[(Long, (A, S))]

  /** `pairs` (vertex, x) grouped by vertex on one HashPartitioner sized by
    * spark.sql.shuffle.partitions, each group handed to `build`. */
  private def adjacency[X: ClassTag, A](spark: SparkSession, pairs: RDD[(Long, X)])(
      build: Array[X] => A): RDD[(Long, A)] =
    pairs.partitionBy(new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt))
      .mapPartitions(it => it.toArray.groupMap(_._1)(_._2).iterator.map { case (v, xs) =>
        (v, build(xs)) }, preservesPartitioning = true)

  /** Sorted (out, in) neighbours of every vertex, multiple edges repeated. */
  private def directedNeighbours(edges: DataFrame): RDD[(Long, (Array[Long], Array[Long]))] =
    adjacency(edges.sparkSession, edges.select(col("src").cast("long"), col("dst").cast("long"))
        .rdd.flatMap(r => Iterator((r.getLong(0), (r.getLong(1), true)),
          (r.getLong(1), (r.getLong(0), false))))) { xs =>
      (xs.collect { case (n, true) => n }.sorted, xs.collect { case (n, false) => n }.sorted)
    }

  /** Sorted distinct neighbours of every vertex, each row an undirected edge. */
  private def neighbours(edges: DataFrame): RDD[(Long, Array[Long])] =
    directedNeighbours(edges).mapValues { case (out, in) => (out ++ in).distinct.sorted }

  private def start[A, S](adj: RDD[(Long, A)])(init: (Long, A) => S): Vertices[A, S] =
    adj.map { case (v, a) => (v, (a, init(v, a))) }

  /** One superstep. Each vertex hands its state to itself and `send`'s
    * (destination, value) messages to others through ONE shuffle on the
    * adjacency's partitioner; `update` then gives each vertex its next state
    * from its adjacency, its state and its messages as (source, value) in
    * ascending order. The result zips the adjacency with that shuffle's
    * output, so a superstep reads one shuffle and lineage never chains
    * supersteps. Per-partition hash maps stand in for `join`/`cogroup`,
    * whose spillable maps cost 4× the task CPU (q_pagerank at sf0.1 on 4
    * cores). */
  private def superstep[A, S, T, M](adj: RDD[(Long, A)], verts: Vertices[A, S])(
      send: (Long, A, S) => Iterator[(Long, M)])(
      update: (Long, A, S, Array[(Long, M)]) => T)(
      implicit order: Ordering[M]): Vertices[A, T] = {
    val inbox = verts.flatMap { case (v, (a, s)) =>
      Iterator.single(v -> (Left(s): Either[S, (Long, M)])) ++
        send(v, a, s).map { case (dst, m) => dst -> Right((v, m)) }
    }.partitionBy(adj.partitioner.get)
    val byOrigin = Ordering.Tuple2(Ordering.Long, order)
    adj.zipPartitions(inbox, preservesPartitioning = true) { (vertices, in) =>
      val box = in.toArray
      val state = box.collect { case (v, Left(s)) => v -> s }.toMap
      val inboxes = box.collect { case (v, Right(m)) => v -> m }.groupMap(_._1)(_._2)
      vertices.map { case (v, a) =>
        val in = inboxes.getOrElse(v, Array.empty[(Long, M)]).sorted(byOrigin)
        (v, (a, update(v, a, state(v), in)))
      }
    }
  }

  /** Applies `step` until no vertex is `active`, checked by one count job
    * before each step; more than `maxSteps` steps fail with `noFixpoint`. */
  @annotation.tailrec
  private def toFixpoint[A, S](verts: Vertices[A, S], maxSteps: Int = Int.MaxValue,
                               noFixpoint: => String = "")(active: S => Boolean)(
      step: Vertices[A, S] => Vertices[A, S]): Vertices[A, S] =
    if (verts.filter(x => active(x._2._2)).count() == 0) verts
    else {
      require(maxSteps > 0, noFixpoint)
      toFixpoint(step(verts), maxSteps - 1, noFixpoint)(active)(step)
    }

  /** G1+G4: triangles per vertex, every vertex included (zero too), over
    * degree-ordered forward adjacency: a vertex's forward neighbours come
    * after it in (degree, id) order, so a forward set holds at most √(2E)
    * vertices. Three supersteps: degrees to neighbours; each vertex sends
    * its forward set to its forward neighbours (to each, the part after
    * it), and the receiver intersects, finding every triangle once at its
    * middle vertex; the middle vertex credits both ends. */
  def triangleCounts(canonical: DataFrame): DataFrame = {
    val adj = neighbours(canonical)
    val forward = superstep(adj, start(adj)((_, nbrs) => nbrs.length)) {
      (_, nbrs, deg) => nbrs.iterator.map(_ -> deg)
    } { (v, _, deg, in) =>
      in.filter { case (u, du) => du > deg || (du == deg && u > v) }
        .sortBy { case (u, du) => (du, u) }.map(_._1)
    }
    val middles = superstep(adj, forward) { (_, _, fwd) =>
      fwd.indices.iterator.flatMap(i => fwd.iterator.drop(i + 1).map(fwd(i) -> _))
    } { (_, _, fwd, in) =>
      val mine = fwd.toSet
      in.filter { case (_, w) => mine(w) }
    }
    superstep(adj, middles) { (_, _, found) =>
      found.iterator.flatMap { case (u, w) => Iterator(u -> 1, w -> 1) }
    } { (_, _, found, in) => found.length + in.length }
      .map { case (v, (_, n)) => (v, n) }.toDF("vertex", "n_triangles")
  }

  /** G3: hop distances from every vertex to each landmark by BFS to a
    * fixpoint; rows only for reachable pairs, none for a landmark absent
    * from the graph. A vertex keeps a landmark → distance map, and only the
    * landmarks it reached in the last superstep travel on: a landmark's
    * first arrival is its shortest distance. Per BFS level, one superstep
    * and one count job. */
  def shortestPathLengths(canonical: DataFrame, landmarks: Seq[Long]): DataFrame = {
    val isLandmark = landmarks.toSet
    val adj = neighbours(canonical)
    val seeded = start(adj) { (v, _) =>
      if (isLandmark(v)) (Map(v -> 0), Array(v)) else (Map.empty[Long, Int], Array.empty[Long])
    }
    toFixpoint(seeded)(_._2.nonEmpty) { verts =>
      superstep(adj, verts) { case (_, nbrs, (dist, fresh)) =>
        for (n <- nbrs.iterator; lm <- fresh.iterator) yield n -> (lm, dist(lm) + 1)
      } { case (_, _, (dist, _), in) =>
        val reached = in.iterator.map(_._2).filterNot(m => dist.contains(m._1)).toMap
        (dist ++ reached, reached.keys.toArray)
      }
    }.flatMap { case (v, (_, (dist, _))) => dist.iterator.map { case (lm, d) => (v, lm, d) } }
      .toDF("vertex", "landmark", "distance")
  }

  /** Connected components (component id = min vertex id in the component)
    * by min-label propagation to a fixpoint. A label starts as the smallest
    * id among the vertex and its neighbours, and only vertices whose label
    * changed send, like GraphX's active set. Per superstep, one shuffle and
    * one count job; supersteps ≤ the component diameter. */
  def connectedComponents(canonical: DataFrame): DataFrame = {
    val adj = neighbours(canonical)
    toFixpoint(start(adj)((v, nbrs) => (nbrs.foldLeft(v)(math.min), true)))(_._2) { verts =>
      superstep(adj, verts) { case (_, nbrs, (label, changed)) =>
        if (changed) nbrs.iterator.map(_ -> label) else Iterator.empty
      } { case (_, _, (label, _), in) =>
        val min = in.foldLeft(label)((m, msg) => math.min(m, msg._2))
        (min, min < label)
      }
    }.map { case (v, (_, (component, _))) => (v, component) }.toDF("vertex", "component")
  }

  /** SCC vertex state: `comp` is final once `done`; `colour` is the forward
    * min-colour; `flag` marks a change in the phase's last superstep. */
  private final case class Scc(done: Boolean, comp: Long, colour: Long, flag: Boolean)

  /** Strongly connected components over a DIRECTED (src, dst) edge list by
    * GraphX's algorithm (component id = min vertex id in the SCC). Unlike
    * the undirected operators this one does NOT mirror edges: direction is
    * the semantics. Each of at most `numIter` rounds trims to a fixpoint (a
    * vertex with no live in- or out-neighbour is its own SCC) and, except in
    * the last round, then propagates min colours forward to a fixpoint and
    * confirms each colour's SCC backward from its root, the vertex whose id
    * is its colour. A vertex left live keeps its own id. */
  def stronglyConnectedComponents(directed: DataFrame, numIter: Int): DataFrame = {
    val adj = directedNeighbours(directed)
    type V = Vertices[(Array[Long], Array[Long]), Scc]
    // `begin` on each live vertex, then supersteps until no vertex is flagged
    def phase(verts: V, begin: (Long, Scc) => Scc)(
        send: ((Array[Long], Array[Long]), Scc) => Iterator[(Long, Long)])(
        update: (Long, Scc, Array[(Long, Long)]) => Scc): V =
      toFixpoint(verts.map { case (v, (a, s)) =>
        (v, (a, if (s.done) s.copy(flag = false) else begin(v, s))) })(_.flag) {
        superstep(adj, _)((_, a, s) => send(a, s)) { (v, _, s, in) =>
          if (s.done) s.copy(flag = false) else update(v, s, in) }
      }
    var verts: V = start(adj)((v, _) => Scc(done = false, v, v, flag = false))
    var round = 0
    while (round < numIter && verts.filter(!_._2._2.done).count() > 0) {
      round += 1
      // trim: each live vertex tells its out-neighbours 1 and in-neighbours 0
      verts = phase(verts, (_, s) => s.copy(flag = true)) { case ((out, in), s) =>
        if (s.done) Iterator.empty else out.iterator.map(_ -> 1L) ++ in.iterator.map(_ -> 0L)
      } { (v, _, in) =>
        val trim = !(in.exists(_._2 == 1L) && in.exists(_._2 == 0L))
        Scc(trim, v, v, trim)
      }
      if (round < numIter) {
        val coloured = phase(verts, (v, s) => s.copy(colour = v, flag = true)) {
          case ((out, _), s) => if (s.flag) out.iterator.map(_ -> s.colour) else Iterator.empty
        } { (_, s, in) =>
          val min = in.foldLeft(s.colour)((m, msg) => math.min(m, msg._2))
          s.copy(colour = min, flag = min < s.colour)
        }
        val root = (v: Long, s: Scc) => Scc(s.colour == v, v, s.colour, s.colour == v)
        verts = phase(coloured, root) {
          case ((_, in), s) => if (s.flag) in.iterator.map(_ -> s.colour) else Iterator.empty
        } { (_, s, in) =>
          if (in.exists(_._2 == s.colour)) Scc(done = true, s.colour, s.colour, flag = true)
          else s.copy(flag = false)
        }
      }
    }
    verts.map { case (v, (_, s)) => (v, s.comp) }.toDF("vertex", "component")
  }

  /** Convergent SCC: rounds until every vertex is final. A round finalizes
    * at least the smallest live vertex, the root of its own colour, so the
    * result is never the silently unconverged ids a fixed bound can yield. */
  def stronglyConnectedComponents(directed: DataFrame): DataFrame =
    stronglyConnectedComponents(directed, Int.MaxValue)

  /** G2: PageRank, semantics identical to GraphX staticPageRank: rank₀ = 1.0;
    * rankₖ₊₁ = reset + (1−reset)·Σ rankₖ(neighbor)/deg(neighbor). Isolated
    * vertices keep rank = reset…1.0 per GraphX convention (they receive no
    * contributions).
    *
    * Scale: one superstep per iteration ([[rankKernel]]), so a run costs the
    * input's own stages, the adjacency shuffle and the result stage plus one
    * stage per iteration. */
  def pageRankDF(canonical: DataFrame, numIter: Int,
                 resetProb: Double = 0.15): DataFrame =
    rankKernel(canonical.withColumn("weight", lit(1.0)), numIter,
      resetProb, init = _ => 1.0, teleport = _ => resetProb)

  /** WEIGHTED PageRank over (src, dst, weight) canonical undirected edges —
    * the reference's normalized-edge-weight mode (GraphUtils.scala:24-31
    * passes similarity weights to PageRank): each vertex distributes its rank
    * proportionally to incident edge weight, i.e. contrib(u→v) =
    * rank(u)·w(u,v)/Σw(u,·). Same kernel (and scale behavior) as
    * [[pageRankDF]]; weighted degree replaces the count degree. Unit weights
    * reduce it to the unweighted form. */
  def pageRankWeightedDF(edges: DataFrame, numIter: Int,
                         resetProb: Double = 0.15): DataFrame =
    rankKernel(edges, numIter, resetProb, init = _ => 1.0, teleport = _ => resetProb)

  /** The PageRank family on [[superstep]], over both directions of every
    * (src, dst, weight) edge. Vertex v starts at `init(v)`, and each
    * iteration sets rank(v) = teleport(v) + (1−resetProb)·Σ
    * rank(u)·w(u,v)/wdeg(u) over its in-edges, with wdeg(u) = Σ w(u,·)
    * summed in ascending (destination, weight) order. */
  private def rankKernel(edges: DataFrame, numIter: Int, resetProb: Double,
                         init: Long => Double, teleport: Long => Double): DataFrame = {
    val links = adjacency(edges.sparkSession, edges
        .select(col("src").cast("long"), col("dst").cast("long"), col("weight").cast("double"))
        .rdd.flatMap(r => Iterator((r.getLong(0), (r.getLong(1), r.getDouble(2))),
          (r.getLong(1), (r.getLong(0), r.getDouble(2)))))) { out =>
      val sorted = out.sorted
      (sumInOrder(sorted), sorted)
    }
    val damp = 1.0 - resetProb
    var ranks = start(links)((v, _) => init(v))
    for (_ <- 0 until numIter)
      ranks = superstep(links, ranks) { case (_, (wdeg, out), rank) =>
        out.iterator.map { case (dst, w) => (dst, rank * w / wdeg) }
      } { (v, _, _, in) => teleport(v) + damp * sumInOrder(in) }
    ranks.map { case (v, (_, rank)) => (v, rank) }.toDF("vertex", "rank")
  }

  private def sumInOrder(group: Array[(Long, Double)]): Double =
    group.foldLeft(0.0)(_ + _._2)

  /** DuckDB oracle for [[pageRankWeightedDF]]; `edgesSql` must yield canonical
    * (src, dst, weight) rows. */
  def pageRankWeightedOracleSql(edgesSql: String, numIter: Int,
                                resetProb: Double = 0.15, digits: Int = 6): String =
    rankOracleSql(edgesSql, numIter, resetProb, digits, "CAST(1.0 AS DOUBLE)", s"$resetProb")

  /** PERSONALIZED PageRank: teleport mass is restricted to the `sources`
    * set (uniformly across it) instead of all vertices — the "similar to
    * THESE bills" ranking over the similarity graph (the probe-bill queries
    * of reference docs/example1.md:13-17 as a whole-graph operator). Same
    * kernel as [[pageRankDF]]; rank starts on the sources and diffuses along
    * edges, so scores are proximity to the source set. */
  def personalizedPageRankDF(canonical: DataFrame, sources: Seq[Long],
                             numIter: Int, resetProb: Double = 0.15): DataFrame = {
    val inSrc = sources.toSet
    val share = 1.0 / sources.size
    rankKernel(canonical.withColumn("weight", lit(1.0)), numIter,
      resetProb, init = v => if (inSrc(v)) share else 0.0,
      teleport = v => if (inSrc(v)) resetProb * share else 0.0)
  }

  /** DuckDB oracle for [[personalizedPageRankDF]]: the [[pageRankOracleSql]]
    * scheme with the start rank and the teleport term gated on source
    * membership. */
  def personalizedPageRankOracleSql(edgesSql: String, sources: Seq[Long],
                                    numIter: Int, resetProb: Double = 0.15,
                                    digits: Int = 6): String = {
    val share = s"(CAST(1.0 AS DOUBLE) / ${sources.size})"
    val member = s"vertex IN (${sources.mkString(", ")})"
    rankOracleSql(unitWeights(edgesSql), numIter, resetProb, digits,
      s"CASE WHEN $member THEN $share ELSE CAST(0.0 AS DOUBLE) END",
      s"CASE WHEN $member THEN $resetProb * $share ELSE 0.0 END")
  }

  /** DuckDB oracle for [[pageRankDF]] on the same edge table expression;
    * `edgesSql` must yield canonical (src, dst) rows. */
  def pageRankOracleSql(edgesSql: String, numIter: Int,
                        resetProb: Double = 0.15, digits: Int = 6): String =
    rankOracleSql(unitWeights(edgesSql), numIter, resetProb, digits,
      "CAST(1.0 AS DOUBLE)", s"$resetProb")

  private def unitWeights(edgesSql: String): String =
    s"SELECT src, dst, CAST(1.0 AS DOUBLE) AS weight FROM ($edgesSql)"

  /** The PageRank family's oracle: the fixed iteration count UNROLLED into
    * chained CTEs (r0..rN) — plain aggregations, no recursive-CTE
    * aggregation restrictions — over canonical (src, dst, weight) rows, with
    * SQL expressions over `vertex` for the start rank and the teleport term.
    * Ranks rounded to `digits` on both sides. */
  private def rankOracleSql(edgesSql: String, numIter: Int, resetProb: Double,
                            digits: Int, init: String, teleport: String): String = {
    val damp = 1.0 - resetProb
    val iters = (1 to numIter).map { k =>
      s"""r$k AS (
        SELECT vertex, ${teleport} + $damp * COALESCE(m.msum, 0.0) AS rank
        FROM verts v LEFT JOIN (
          SELECT s.dst AS vertex, SUM(r.rank * s.weight / d.wdeg) AS msum
          FROM sym s JOIN r${k - 1} r ON r.vertex = s.src
                     JOIN wdegs d ON d.vertex = s.src
          GROUP BY s.dst) m USING (vertex))"""
    }.mkString(",\n")
    s"""
    WITH e0 AS ($edgesSql),
    sym AS (SELECT src, dst, weight FROM e0
            UNION ALL SELECT dst AS src, src AS dst, weight FROM e0),
    verts AS (SELECT DISTINCT src AS vertex FROM sym),
    wdegs AS (SELECT src AS vertex, SUM(weight) AS wdeg FROM sym GROUP BY src),
    r0 AS (SELECT vertex, $init AS rank FROM verts),
    $iters
    SELECT vertex, ROUND(rank, $digits) AS rank
    FROM r$numIter ORDER BY vertex"""
  }

  /** Synchronous label propagation (community detection) with a DETERMINISTIC
    * update: labelₖ₊₁(v) = the label most frequent among v's neighbors'
    * labelₖ, ties broken by SMALLEST label; a vertex with no message keeps
    * its label (= its own id, the initialization). GraphX's LabelPropagation
    * breaks ties by hash-map iteration order — irreproducible across runs —
    * so this form is the one that can be oracle-checked and the one a
    * pipeline should trust. Integer-exact throughout.
    *
    * Scale: one superstep per iteration, the messages being neighbour
    * labels; no job between iterations. */
  def labelPropagationDF(canonical: DataFrame, numIter: Int): DataFrame = {
    val adj = neighbours(canonical)
    var labels = start(adj)((v, _) => v)
    for (_ <- 0 until numIter)
      labels = superstep(adj, labels) { (_, nbrs, label) => nbrs.iterator.map(_ -> label) } {
        (_, _, label, in) =>
          if (in.isEmpty) label
          else in.groupMapReduce(_._2)(_ => 1)(_ + _).minBy { case (l, n) => (-n, l) }._1
      }
    labels.map { case (v, (_, label)) => (v, label) }.toDF("vertex", "label")
  }

  /** DuckDB oracle for [[labelPropagationDF]]: the fixed iteration count
    * unrolled into chained CTEs, each iteration a neighbor-label count plus
    * an arg-max by (count DESC, label ASC) row_number — the identical
    * deterministic tie-break. */
  def labelPropagationOracleSql(edgesSql: String, numIter: Int): String = {
    val iters = (1 to numIter).map { k =>
      s"""c$k AS (
        SELECT s.src AS vertex, l.label, COUNT(*) AS c
        FROM sym s JOIN l${k - 1} l ON l.vertex = s.dst
        GROUP BY s.src, l.label),
      u$k AS (
        SELECT vertex, label FROM (
          SELECT vertex, label,
                 ROW_NUMBER() OVER (PARTITION BY vertex
                                    ORDER BY c DESC, label) AS rn
          FROM c$k) WHERE rn = 1),
      l$k AS (
        SELECT l.vertex, COALESCE(u.label, l.label) AS label
        FROM l${k - 1} l LEFT JOIN u$k u ON u.vertex = l.vertex)"""
    }.mkString(",\n")
    s"""
    WITH e0 AS ($edgesSql),
    sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    verts AS (SELECT DISTINCT src AS vertex FROM sym),
    l0 AS (SELECT vertex, vertex AS label FROM verts),
    $iters
    SELECT vertex, label AS community
    FROM l$numIter ORDER BY vertex"""
  }

  /** k-core peel state: the live degree (neighbours not yet peeled), the
    * largest k whose core holds the vertex so far, and whether it left the
    * core being peeled in the last round. */
  private final case class Peel(deg: Int, core: Int, left: Boolean)

  /** Peels the (k−1)-core (vertices with core = k − 1) to the k-core, to a
    * fixpoint: round 1 drops the vertices of live degree < k, and each
    * later round is one superstep in which only the vertices that left send.
    * THROWS if `maxRounds` rounds end without a fixpoint rather than
    * silently returning a non-core (the SCC numIter lesson from round 3). */
  private def peel(adj: RDD[(Long, Array[Long])], verts: Vertices[Array[Long], Peel],
                   k: Int, maxRounds: Int): Vertices[Array[Long], Peel] = {
    val first = verts.map { case (v, (nbrs, p)) =>
      (v, (nbrs, if (p.core != k - 1) p.copy(left = false)
                 else if (p.deg < k) p.copy(left = true) else p.copy(core = k, left = false)))
    }
    toFixpoint(first, maxRounds - 1, s"k-core peel did not converge in $maxRounds rounds")(_.left) {
      superstep(adj, _) { (_, nbrs, p) => if (p.left) nbrs.iterator.map(_ -> 1) else Iterator.empty } {
        (_, _, p, in) =>
          val deg = p.deg - in.length
          if (p.core == k && deg < k) Peel(deg, k - 1, left = true) else Peel(deg, p.core, left = false)
      }
    }
  }

  /** k-core membership: the vertices left after repeatedly dropping those
    * whose degree WITHIN the surviving subgraph is < k. Rounds are bounded
    * by the longest removal cascade; per round, one superstep and one count
    * job. */
  def kCoreDF(canonical: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    val adj = neighbours(canonical)
    peel(adj, start(adj)((_, nbrs) => Peel(nbrs.length, k - 1, left = false)), k, maxRounds)
      .filter(_._2._2.core == k).map(x => Tuple1(x._1)).toDF("vertex")
  }

  /** Coreness (max k such that the vertex survives the k-core peel) for
    * k = 1..maxK; vertices outside every core report 0. k-cores are nested,
    * so the k+1 peel starts from the k-core's survivors: maxK peels in one
    * pass, fine for the small k a curation pipeline asks for; a full
    * decomposition would switch to the degeneracy-ordering algorithm. */
  def corenessDF(canonical: DataFrame, maxK: Int): DataFrame = {
    val adj = neighbours(canonical)
    (1 to maxK).foldLeft(start(adj)((_, nbrs) => Peel(nbrs.length, 0, left = false)))(
        peel(adj, _, _, maxRounds = 50))
      .map { case (v, (_, p)) => (v, p.core.toLong) }.toDF("vertex", "coreness")
  }

  /** DuckDB oracle for [[corenessDF]]: for each k the peel is unrolled to a
    * FIXED `rounds` depth (extra rounds past the fixpoint are no-ops, only
    * under-unrolling can diverge — pair it with a key-bounded subgraph whose
    * cascade length is SF-independent). Every round CTE is MATERIALIZED:
    * each round references the previous survivor set twice. */
  def corenessOracleSql(edgesSql: String, maxK: Int, rounds: Int): String = {
    val peels = (1 to maxK).map { k =>
      val rs = (1 to rounds).map { r =>
        s"""s${k}_$r AS MATERIALIZED (
          SELECT e.src AS vertex FROM sym e
          JOIN s${k}_${r - 1} a ON a.vertex = e.src
          JOIN s${k}_${r - 1} b ON b.vertex = e.dst
          GROUP BY e.src HAVING COUNT(*) >= $k)"""
      }.mkString(",\n")
      s"""s${k}_0 AS (SELECT vertex FROM verts),
      $rs"""
    }.mkString(",\n")
    val corUnion = (1 to maxK)
      .map(k => s"SELECT vertex, $k AS k FROM s${k}_$rounds")
      .mkString(" UNION ALL ")
    s"""
    WITH e0 AS MATERIALIZED ($edgesSql),
    sym AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    verts AS MATERIALIZED (SELECT DISTINCT src AS vertex FROM sym),
    $peels,
    cor AS ($corUnion)
    SELECT v.vertex, CAST(COALESCE(MAX(c.k), 0) AS BIGINT) AS coreness
    FROM verts v LEFT JOIN cor c ON c.vertex = v.vertex
    GROUP BY v.vertex ORDER BY v.vertex"""
  }

  /** HITS (Kleinberg 1999) hub/authority scores over DIRECTED edges —
    * completes the classic link-analysis pair next to [[pageRankDF]] (the
    * reference stops at PageRank, GraphUtils.scala:24-31; HITS is the other
    * score a citation-graph workflow asks for). Mutual recursion:
    * auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), each side
    * renormalized per iteration. Normalization is BY MAX, not L2: the max is
    * order-independent (exact in floating point), so the oracle can replay
    * the arithmetic — an L2 norm would add a sqrt-of-sum whose rounding
    * differences compound across iterations.
    *
    * Scale: each half-step is one superstep (hub along out-edges, auth
    * along in-edges) that leaves raw sums; their max is one small reduce
    * job, applied in the next send. */
  def hitsDF(directed: DataFrame, numIter: Int): DataFrame = {
    val adj = directedNeighbours(directed)
    // (raw hub, auth) until the last line; the first hub is 1.0 / 1.0
    var scores = start(adj)((_, _) => (1.0, 1.0))
    var hubMax = 1.0
    for (_ <- 0 until numIter) {
      val hm = hubMax
      val rawAuth = superstep(adj, scores) { case (_, (out, _), (hub, _)) =>
        out.iterator.map(_ -> normalized(hub, hm))
      } { case (_, _, (hub, _), in) => (normalized(hub, hm), sumInOrder(in)) }
      val am = rawAuth.map(_._2._2._2).fold(0.0)(math.max)
      scores = superstep(adj, rawAuth) { case (_, (_, in), (_, auth)) =>
        in.iterator.map(_ -> normalized(auth, am))
      } { case (_, _, (_, auth), in) => (sumInOrder(in), normalized(auth, am)) }
      hubMax = scores.map(_._2._2._1).fold(0.0)(math.max)
    }
    val hm = hubMax
    scores.map { case (v, (_, (hub, auth))) => (v, normalized(hub, hm), auth) }
      .toDF("vertex", "hub", "auth")
  }

  /** `raw / max`, or 0.0 when the max is not positive (an empty frame). */
  private def normalized(raw: Double, max: Double): Double =
    if (max > 0) raw / max else 0.0

  /** DuckDB oracle for [[hitsDF]]: iterations unrolled into chained CTEs
    * (ar/a/hr/h per step), max-normalized exactly like the DataFrame loop;
    * scores rounded to `digits` on both sides. Every CTE is AS MATERIALIZED:
    * each normalization references its raw frame twice, so DuckDB's default
    * inlining would expand the chain 4^numIter-fold — enough re-opened
    * scans to exhaust the fd limit before it OOMs. */
  def hitsOracleSql(edgesSql: String, numIter: Int, digits: Int = 6): String = {
    val iters = (1 to numIter).map { k =>
      s"""ar$k AS MATERIALIZED (
        SELECT v.vertex, COALESCE(m.s, 0.0) AS araw
        FROM verts v LEFT JOIN (
          SELECT e.dst AS vertex, SUM(h.hub) AS s
          FROM e0 e JOIN h${k - 1} h ON h.vertex = e.src
          GROUP BY e.dst) m ON m.vertex = v.vertex),
      a$k AS MATERIALIZED (
        SELECT vertex, CASE WHEN mx > 0 THEN araw / mx ELSE 0.0 END AS auth
        FROM ar$k CROSS JOIN (SELECT MAX(araw) AS mx FROM ar$k)),
      hr$k AS MATERIALIZED (
        SELECT v.vertex, COALESCE(m.s, 0.0) AS hraw
        FROM verts v LEFT JOIN (
          SELECT e.src AS vertex, SUM(a.auth) AS s
          FROM e0 e JOIN a$k a ON a.vertex = e.dst
          GROUP BY e.src) m ON m.vertex = v.vertex),
      h$k AS MATERIALIZED (
        SELECT vertex, CASE WHEN mx > 0 THEN hraw / mx ELSE 0.0 END AS hub
        FROM hr$k CROSS JOIN (SELECT MAX(hraw) AS mx FROM hr$k))"""
    }.mkString(",\n")
    s"""
    WITH e0 AS MATERIALIZED ($edgesSql),
    verts AS MATERIALIZED (SELECT DISTINCT v AS vertex FROM
      (SELECT src AS v FROM e0 UNION ALL SELECT dst FROM e0)),
    h0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) AS hub FROM verts),
    $iters
    SELECT h.vertex, ROUND(h.hub, $digits) AS hub, ROUND(a.auth, $digits) AS auth
    FROM h$numIter h JOIN a$numIter a ON a.vertex = h.vertex
    ORDER BY h.vertex"""
  }

  /** Link prediction over the undirected graph: for every non-edge pair
    * (u, v) sharing at least one neighbor, the common-neighbor count and the
    * pair's neighborhood Jaccard (cn / (deg u + deg v − cn), one final double
    * division so the score is bit-reproducible).
    *
    * Distributed shape — the standard middle-vertex generation: candidate
    * pairs are produced by joining the symmetric adjacency against itself on
    * the SHARED neighbor (equi-join on w for sym(w,u) × sym(w,v), u < v), so
    * work is bucketed per middle vertex and the corpus is never all-paired.
    * A middle vertex of degree d contributes d·(d−1)/2 pairs — the skew
    * lever at scale is capping or salting the few super-degree vertices,
    * exactly the lever the LSH band joins already use. Existing edges are
    * removed with a LEFT ANTI join on the canonical pair.
    */
  def linkPrediction(canonical: DataFrame): DataFrame = {
    val sym = symmetric(canonical)
    val deg = sym.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("deg"))
    val left = sym.select(col("src").as("w"), col("dst").as("u"))
    val right = sym.select(col("src").as("w"), col("dst").as("v"))
    val cn = left.join(right, "w")
      .filter(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"))
      .join(canonical.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
    cn
      .join(deg.select(col("vertex").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("vertex").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        (col("cn").cast("double") / (col("du") + col("dv") - col("cn")))
          .as("jaccard"))
  }

  /** DuckDB oracle for [[linkPrediction]] over `edgesSql` (src/dst pairs,
    * already canonical src<dst). */
  def linkPredictionOracleSql(edgesSql: String): String = s"""
    WITH e AS MATERIALIZED ($edgesSql),
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS vertex, COUNT(*) AS deg FROM sym GROUP BY src),
    cn AS (
      SELECT a.dst AS u, b.dst AS v, COUNT(*) AS cn
      FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
      GROUP BY a.dst, b.dst),
    nonedge AS (
      SELECT cn.* FROM cn LEFT JOIN e ON e.src = cn.u AND e.dst = cn.v
      WHERE e.src IS NULL)
    SELECT n.u, n.v, n.cn,
           CAST(n.cn AS DOUBLE) / (du.deg + dv.deg - n.cn) AS jaccard
    FROM nonedge n
    JOIN deg du ON du.vertex = n.u
    JOIN deg dv ON dv.vertex = n.v"""
}
