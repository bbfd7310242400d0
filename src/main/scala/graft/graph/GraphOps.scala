package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph operators over (src, dst[, weight]) edge DataFrames (SURVEY G1-G4).
  *
  * The reference builds a GraphFrame from similarity matches and runs
  * PageRank / shortestPaths / triangleCount (reference graph/GraphUtils.scala:16-41);
  * the GraphFrames jar is unavailable offline, so:
  *  - GraphX (shipped with Spark) powers triangle count and shortest paths —
  *    both integer-valued, so results are engine-exact;
  *  - the PageRank family ([[pageRankDF]], [[pageRankWeightedDF]],
  *    [[personalizedPageRankDF]]) runs on one co-partitioned RDD superstep
  *    kernel with one shuffle per iteration and partition-count-independent
  *    sums, so it stays oracle-checkable. It replaced DataFrame loops whose
  *    one plan grew numIter joins deep, which AQE ran stage by stage,
  *    re-planning the rest of the plan after each.
  *
  * All operators treat the graph as UNDIRECTED (the reference's similarity
  * graph is undirected): edges are canonicalized src<dst then mirrored
  * internally where the algorithm needs both directions.
  */
object GraphOps {

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

  private def toGraphX(canonical: DataFrame): Graph[Int, Int] = {
    val edgeRdd = canonical.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0)
  }

  /** G1+G4: triangles per vertex via GraphX TriangleCount (integer-exact). */
  def triangleCounts(canonical: DataFrame): DataFrame = {
    val spark = canonical.sparkSession
    import spark.implicits._
    toGraphX(canonical).triangleCount().vertices
      .map { case (id, n) => (id, n) }.toDF("vertex", "n_triangles")
  }

  /** G3: hop distances from every vertex to each landmark via GraphX
    * ShortestPaths (integer-exact); rows only for reachable pairs. */
  def shortestPathLengths(canonical: DataFrame, landmarks: Seq[Long]): DataFrame = {
    val spark = canonical.sparkSession
    import spark.implicits._
    // ShortestPaths follows OUT-edges; feed the symmetric edge set so the
    // undirected semantics hold.
    val g = toGraphX(symmetric(canonical).distinct())
    ShortestPaths.run(g, landmarks.map(_.asInstanceOf[VertexId]))
      .vertices
      .flatMap { case (id, spmap) => spmap.map { case (lm, d) => (id, lm.toLong, d) } }
      .toDF("vertex", "landmark", "distance")
  }

  /** Connected components via GraphX (integer-exact: component id = min
    * vertex id in the component). */
  def connectedComponents(canonical: DataFrame): DataFrame = {
    val spark = canonical.sparkSession
    import spark.implicits._
    toGraphX(canonical).connectedComponents().vertices
      .map { case (id, cc) => (id, cc) }.toDF("vertex", "component")
  }

  /** Strongly connected components over a DIRECTED (src, dst) edge list via
    * GraphX (component id = min vertex id in the SCC; integer-exact). Unlike
    * the operators above this one does NOT mirror edges — direction is the
    * semantics. */
  def stronglyConnectedComponents(directed: DataFrame, numIter: Int): DataFrame = {
    val spark = directed.sparkSession
    import spark.implicits._
    val edgeRdd = directed.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0)
      .stronglyConnectedComponents(numIter).vertices
      .map { case (id, scc) => (id, scc) }.toDF("vertex", "component")
  }

  /** Convergent SCC: iteration bound = vertex count, the hard upper bound on
    * the condensation-DAG depth, so the result can never be the silently
    * unconverged ids a too-small fixed bound yields. Costs nothing when the
    * graph converges sooner — GraphX's outer loop exits as soon as every
    * vertex is finalized (`while (numVertices > 0 && iter < numIter)`,
    * graphx/lib/StronglyConnectedComponents.scala). The distinct-count is one
    * tiny shuffle over the edge list, negligible next to the SCC Pregel. */
  def stronglyConnectedComponents(directed: DataFrame): DataFrame = {
    val n = directed.select(col("src")).union(directed.select(col("dst")))
      .distinct().count()
    stronglyConnectedComponents(directed, math.max(1L, n).min(Int.MaxValue).toInt)
  }

  /** G2: PageRank, semantics identical to GraphX staticPageRank: rank₀ = 1.0;
    * rankₖ₊₁ = reset + (1−reset)·Σ rankₖ(neighbor)/deg(neighbor). Isolated
    * vertices keep rank = reset…1.0 per GraphX convention (they receive no
    * contributions).
    *
    * Scale: one superstep of [[rankKernel]] per iteration, so a run costs the
    * input's own stages, the adjacency shuffle and the result stage plus one
    * stage per iteration. The DataFrame loop it replaced built one plan
    * numIter joins deep; AQE ran it as 33 one-task stages at numIter = 10 and
    * re-planned the remaining plan after each (BillMatch's graph step on a
    * 4-core host: 12.3 s over 33 stages, now 1.7 s over 14). */
  def pageRankDF(canonical: DataFrame, numIter: Int,
                 resetProb: Double = 0.15): DataFrame =
    rankKernel(symmetric(canonical).withColumn("weight", lit(1.0)), numIter,
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
    rankKernel(edges.select(col("src"), col("dst"), col("weight"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
          col("weight"))),
      numIter, resetProb, init = _ => 1.0, teleport = _ => resetProb)

  /** The superstep kernel of the PageRank family. `sym` holds both directions
    * of every edge as (src, dst, weight). Vertex v starts at `init(v)`, and
    * each iteration sets rank(v) = teleport(v) + (1−resetProb)·Σ
    * rank(u)·w(u,v)/wdeg(u) over its in-edges, with wdeg(u) = Σ w(u,·).
    *
    * The adjacency (src → wdeg, out-edges) and the ranks share one
    * HashPartitioner sized by spark.sql.shuffle.partitions, so an iteration
    * shuffles its contributions to their destinations once and joins
    * partition by partition. Each iteration's ranks are rebuilt from the
    * edge shuffle's and the contribution shuffle's outputs, so lineage never
    * chains ranks across iterations: nothing is cached or checkpointed, and
    * a lost block is recomputed from shuffle files. Per-partition hash maps
    * stand in for `join`/`cogroup`, whose spillable maps cost 4× the task
    * CPU (q_pagerank at sf0.1 on 4 cores). A vertex sums its contributions in ascending (source,
    * value) order and its out-weights in ascending (destination, weight)
    * order, so the ranks are bit-identical at any partition count. */
  private def rankKernel(sym: DataFrame, numIter: Int, resetProb: Double,
                         init: Long => Double, teleport: Long => Double): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val links = sym
      .select(col("src").cast("long"), col("dst").cast("long"), col("weight").cast("double"))
      .rdd.map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .partitionBy(part)
      .mapPartitions(edges => sortedGroups(edges).iterator.map { case (src, out) =>
        (src, (sumInOrder(out), out)) }, preservesPartitioning = true)
    val damp = 1.0 - resetProb
    var ranks = links.mapPartitions(_.map { case (v, _) => (v, init(v)) },
      preservesPartitioning = true)
    for (_ <- 0 until numIter) {
      val contribs = links.zipPartitions(ranks) { (adjacency, vertexRanks) =>
        val rank = vertexRanks.toMap
        adjacency.flatMap { case (src, (wdeg, out)) =>
          out.iterator.map { case (dst, w) => (dst, (src, rank(src) * w / wdeg)) }
        }
      }.partitionBy(part)
      ranks = links.zipPartitions(contribs, preservesPartitioning = true) { (adjacency, in) =>
        val msum = sortedGroups(in).map { case (v, c) => v -> sumInOrder(c) }
        adjacency.map { case (v, _) => (v, teleport(v) + damp * msum.getOrElse(v, 0.0)) }
      }
    }
    ranks.toDF("vertex", "rank")
  }

  /** Pairs grouped by key, each group in ascending (id, value) order. */
  private def sortedGroups(it: Iterator[(Long, (Long, Double))]): Map[Long, Array[(Long, Double)]] =
    it.toArray.groupMap(_._1)(_._2).map { case (k, group) =>
      k -> group.sorted(Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering))
    }

  private def sumInOrder(group: Array[(Long, Double)]): Double =
    group.foldLeft(0.0)(_ + _._2)

  /** DuckDB oracle for [[pageRankWeightedDF]]; `edgesSql` must yield canonical
    * (src, dst, weight) rows. Same unrolled-CTE shape as the unweighted
    * oracle, with weighted degree and weighted contributions. */
  def pageRankWeightedOracleSql(edgesSql: String, numIter: Int,
                                resetProb: Double = 0.15, digits: Int = 6): String = {
    val damp = 1.0 - resetProb
    val iters = (1 to numIter).map { k =>
      s"""r$k AS (
        SELECT v.vertex, $resetProb + $damp * COALESCE(m.msum, 0.0) AS rank
        FROM verts v LEFT JOIN (
          SELECT s.dst AS vertex, SUM(r.rank * s.weight / d.wdeg) AS msum
          FROM sym s JOIN r${k - 1} r ON r.vertex = s.src
                     JOIN wdegs d ON d.vertex = s.src
          GROUP BY s.dst) m ON m.vertex = v.vertex)"""
    }.mkString(",\n")
    s"""
    WITH e0 AS ($edgesSql),
    sym AS (SELECT src, dst, weight FROM e0
            UNION ALL SELECT dst AS src, src AS dst, weight FROM e0),
    verts AS (SELECT DISTINCT src AS vertex FROM sym),
    wdegs AS (SELECT src AS vertex, SUM(weight) AS wdeg FROM sym GROUP BY src),
    r0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) AS rank FROM verts),
    $iters
    SELECT vertex, ROUND(rank, $digits) AS rank
    FROM r$numIter ORDER BY vertex"""
  }

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
    rankKernel(symmetric(canonical).withColumn("weight", lit(1.0)), numIter,
      resetProb, init = v => if (inSrc(v)) share else 0.0,
      teleport = v => if (inSrc(v)) resetProb * share else 0.0)
  }

  /** DuckDB oracle for [[personalizedPageRankDF]] — the [[pageRankOracleSql]]
    * unrolled-CTE scheme with the teleport term gated on source membership. */
  def personalizedPageRankOracleSql(edgesSql: String, sources: Seq[Long],
                                    numIter: Int, resetProb: Double = 0.15,
                                    digits: Int = 6): String = {
    val damp = 1.0 - resetProb
    val srcList = sources.mkString(", ")
    val share = s"(CAST(1.0 AS DOUBLE) / ${sources.size})"
    val iters = (1 to numIter).map { k =>
      s"""r$k AS (
        SELECT v.vertex,
               (CASE WHEN v.vertex IN ($srcList) THEN $resetProb * $share ELSE 0.0 END)
               + $damp * COALESCE(m.msum, 0.0) AS rank
        FROM verts v LEFT JOIN (
          SELECT s.dst AS vertex, SUM(r.rank / d.deg) AS msum
          FROM sym s JOIN r${k - 1} r ON r.vertex = s.src
                     JOIN degs d ON d.vertex = s.src
          GROUP BY s.dst) m ON m.vertex = v.vertex)"""
    }.mkString(",\n")
    s"""
    WITH e0 AS ($edgesSql),
    sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    verts AS (SELECT DISTINCT src AS vertex FROM sym),
    degs AS (SELECT src AS vertex, COUNT(*) AS deg FROM sym GROUP BY src),
    r0 AS (SELECT vertex,
                  CASE WHEN vertex IN ($srcList) THEN $share ELSE CAST(0.0 AS DOUBLE) END AS rank
           FROM verts),
    $iters
    SELECT vertex, ROUND(rank, $digits) AS rank
    FROM r$numIter ORDER BY vertex"""
  }

  /** DuckDB oracle for [[pageRankDF]] on the same edge table expression: the
    * fixed iteration count is UNROLLED into chained CTEs (r0..rN) — plain
    * aggregations, no recursive-CTE aggregation restrictions. `edgesSql` must
    * yield canonical (src, dst) rows. Ranks rounded to `digits` on both sides. */
  def pageRankOracleSql(edgesSql: String, numIter: Int,
                        resetProb: Double = 0.15, digits: Int = 6): String = {
    val damp = 1.0 - resetProb
    val iters = (1 to numIter).map { k =>
      s"""r$k AS (
        SELECT v.vertex, $resetProb + $damp * COALESCE(m.msum, 0.0) AS rank
        FROM verts v LEFT JOIN (
          SELECT s.dst AS vertex, SUM(r.rank / d.deg) AS msum
          FROM sym s JOIN r${k - 1} r ON r.vertex = s.src
                     JOIN degs d ON d.vertex = s.src
          GROUP BY s.dst) m ON m.vertex = v.vertex)"""
    }.mkString(",\n")
    s"""
    WITH e0 AS ($edgesSql),
    sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    verts AS (SELECT DISTINCT src AS vertex FROM sym),
    degs AS (SELECT src AS vertex, COUNT(*) AS deg FROM sym GROUP BY src),
    r0 AS (SELECT vertex, CAST(1.0 AS DOUBLE) AS rank FROM verts),
    $iters
    SELECT vertex, ROUND(rank, $digits) AS rank
    FROM r$numIter ORDER BY vertex"""
  }

  /** Synchronous label propagation (community detection) with a DETERMINISTIC
    * update: labelₖ₊₁(v) = the label most frequent among v's neighbors'
    * labelₖ, ties broken by SMALLEST label; isolated vertices keep their
    * label (= their own id, the initialization). GraphX's LabelPropagation
    * breaks ties by hash-map iteration order — irreproducible across runs —
    * so this DataFrame form is the one that can be oracle-checked and the
    * one a pipeline should trust. Integer-exact throughout.
    *
    * Scale: per iteration, one join labels⋈edges + one two-key groupBy + one
    * per-vertex argmax AGGREGATION (min(struct(-c, label)) — partial
    * map-side, no per-vertex sort) — all keyed on vertex id (AQE reuses the
    * partitioning). On long runs (numIter > 16) the labels are
    * localCheckpoint-ed every 8 iterations: the logical plan otherwise grows
    * linearly with numIter. */
  def labelPropagationDF(canonical: DataFrame, numIter: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = symmetric(canonical)
    val vertices = sym.select(col("src").as("vertex")).distinct()
    var labels = vertices.withColumn("label", col("vertex"))
    for (i <- 0 until numIter) {
      val counts = sym
        .join(labels.withColumnRenamed("vertex", "dst"), "dst")
        .groupBy(col("src").as("vertex"), col("label"))
        .agg(count(lit(1)).as("c"))
      // per-vertex argmax as min(struct(-c, label)) — struct ordering gives
      // (largest count, then smallest label), exactly the window's
      // (c desc, label asc) rn=1 row, but as a partial-aggregating hash agg
      // instead of a per-vertex sort: high-degree vertices never buffer
      // their full neighbor-label census through an exchange (r9; c ≥ 1 so
      // the negation cannot overflow)
      val upd = counts
        .groupBy("vertex")
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("__m"))
        .select(col("vertex"), col("__m.label").as("__new"))
      labels = labels
        .join(upd, Seq("vertex"), "left")
        .select(col("vertex"), coalesce(col("__new"), col("label")).as("label"))
      if (numIter > 16 && (i + 1) % 8 == 0 && i + 1 < numIter)
        labels = labels.localCheckpoint()
    }
    labels
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

  /** k-core membership by iterative peeling: repeatedly drop vertices whose
    * degree WITHIN the surviving subgraph is < k, until fixpoint. The
    * distributed-standard algorithm — each round is one join+agg keyed on
    * vertex id; rounds are bounded by the longest removal cascade, and the
    * loop THROWS if `maxRounds` is hit without converging rather than
    * silently returning a non-core (the SCC numIter lesson from round 3).
    * State is localCheckpoint-ed per round: the survivor set feeds the next
    * round's plan twice (once per edge endpoint), so untruncated lineage
    * would double per round. */
  def kCoreDF(canonical: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    val sym = symmetric(canonical)
    var surv = sym.select(col("src").as("vertex")).distinct().localCheckpoint()
    var n = surv.count()
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      val next = sym
        .join(surv.withColumnRenamed("vertex", "src"), "src")
        .join(surv.withColumnRenamed("vertex", "dst"), "dst")
        .groupBy(col("src").as("vertex")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("vertex")
        .localCheckpoint()
      val m = next.count()
      changed = m != n
      n = m; surv = next; round += 1
    }
    require(!changed, s"k-core peel did not converge in $maxRounds rounds")
    surv
  }

  /** Coreness (max k such that the vertex survives the k-core peel) for
    * k = 1..maxK; vertices outside every core report 0. maxK peels — fine for
    * the small k a curation pipeline asks for; a full decomposition would
    * switch to the degeneracy-ordering algorithm. */
  def corenessDF(canonical: DataFrame, maxK: Int): DataFrame = {
    val verts = symmetric(canonical).select(col("src").as("vertex")).distinct()
    val cores = (1 to maxK)
      .map(k => kCoreDF(canonical, k).withColumn("k", lit(k.toLong)))
      .reduce(_ unionByName _)
    verts
      .join(cores.groupBy("vertex").agg(max("k").as("c")), Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("c"), lit(0L)).as("coreness"))
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
    * Scale: per iteration two shuffled join+aggs keyed on vertex id (AQE
    * reuses the partitioning) plus two single-row max aggregates that
    * broadcast back — no driver collect. The state is localCheckpoint-ed
    * EVERY iteration: each normalization references its
    * raw-score frame twice (score and max-of-score), so without truncation
    * the logical plan QUADRUPLES per iteration — 4^k subtrees hang Catalyst
    * analysis long before execution. One eager materialization of the
    * (vertex, hub, auth) state per iteration is the GraphX per-superstep
    * caching pattern, and keeps every iteration's plan constant-size. */
  def hitsDF(directed: DataFrame, numIter: Int): DataFrame = {
    // cached (r13): the loop reads the edge frame TWICE per iteration (hub
    // contribution join + auth contribution join) — 2·numIter recomputes of
    // whatever lineage produced the edges (q_hits derives them from a
    // customer self-join) without the cache
    val edges = directed.select(col("src"), col("dst")).cache()
    val vertices = edges.select(col("src").as("vertex"))
      .union(edges.select(col("dst"))).distinct().cache()
    var state = vertices.withColumn("hub", lit(1.0))
      .withColumn("auth", lit(1.0))
    // r14 (guide §2.4/§5 driver): each normalization used to run as
    // crossJoin(broadcast(raw.agg(max))) — a broadcast-build JOB that
    // replayed the half-iteration's join+agg lineage, after which the main
    // flow computed the same frame AGAIN (2-3 evaluations of every
    // edge-scale join per iteration). Now the raw frame is localCheckpointed
    // once (one evaluation), the max is a one-row driver scalar over the
    // materialized frame, and the division applies it as a literal —
    // identical doubles in identical order (same sums, same raw/max
    // division, same `> 0` guard with an empty frame degenerating to 0.0),
    // so the ROUND(6) oracle gate is unaffected.
    def scalarMax(df: DataFrame, c: String): Double =
      df.agg(max(c)).head.get(0) match {
        case null      => 0.0
        case d: Double => d
      }
    for (_ <- 0 until numIter) {
      val hub = state.select(col("vertex"), col("hub"))
      val araw = vertices
        .join(edges.join(hub.withColumnRenamed("vertex", "src"), "src")
                .groupBy(col("dst").as("vertex")).agg(sum("hub").as("s")),
              Seq("vertex"), "left")
        .select(col("vertex"), coalesce(col("s"), lit(0.0)).as("araw"))
        .localCheckpoint()
      val amax = scalarMax(araw, "araw")
      val auth = araw.select(col("vertex"),
        when(lit(amax) > 0, col("araw") / lit(amax)).otherwise(0.0)
          .as("auth"))
      val hraw = vertices
        .join(edges.join(auth.withColumnRenamed("vertex", "dst"), "dst")
                .groupBy(col("src").as("vertex")).agg(sum("auth").as("s")),
              Seq("vertex"), "left")
        .select(col("vertex"), coalesce(col("s"), lit(0.0)).as("hraw"))
        .localCheckpoint()
      val hmax = scalarMax(hraw, "hraw")
      val hub1 = hraw.select(col("vertex"),
        when(lit(hmax) > 0, col("hraw") / lit(hmax)).otherwise(0.0)
          .as("hub"))
      state = hub1.join(auth, "vertex").localCheckpoint()
    }
    state.select(col("vertex"), col("hub"), col("auth"))
  }

  /** DuckDB oracle for [[hitsDF]]: iterations unrolled into chained CTEs
    * (ar/a/hr/h per step), max-normalized exactly like the DataFrame loop;
    * scores rounded to `digits` on both sides. Every CTE is AS MATERIALIZED:
    * each normalization references its raw frame twice, so DuckDB's default
    * inlining would expand the chain 4^numIter-fold (the exact blowup
    * [[hitsDF]] truncates with per-iteration localCheckpoint) — enough
    * re-opened scans to exhaust the fd limit before it OOMs. */
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
    // the symmetric adjacency feeds FOUR plan branches (both join sides,
    // the degree table, and — via canonical — the anti-join); persist it so
    // the edge derivation computes once instead of replanning per branch
    val sym = symmetric(canonical)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
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
