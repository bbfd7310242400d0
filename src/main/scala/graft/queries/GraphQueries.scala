package graft.queries

import graft.QueryDef
import graft.graph.GraphOps
import graft.io.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph operators (SURVEY G1-G4) over a deterministic edge set derived from
  * the testdata: customers in the same nation whose keys differ by at most 2
  * (a braided chain per nation — has triangles, scales with SF, and is
  * SQL-derivable so every graph result can be oracle-checked exactly).
  *
  * The reference builds its graph from similarity matches
  * (graph/GraphUtils.scala:16-22); the edge-derivation here stands in for that
  * similarity output, keeping the graph algorithms themselves the operators
  * under test.
  */
object GraphQueries {

  /** (src, dst) canonical edges: same nation, src < dst, and `near(src,
    * dst)` on the two keys — by default the braided chain, keyDiff <= 2. */
  private[graft] def customerEdges(s: SparkSession, d: String,
      near: (Column, Column) => Column = (a, b) => b <= a + 2): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    c.alias("a").join(c.alias("b"),
        col("a.c_nationkey") === col("b.c_nationkey") &&
        col("b.c_custkey") > col("a.c_custkey") &&
        near(col("a.c_custkey"), col("b.c_custkey")))
      .select(col("a.c_custkey").as("src"), col("b.c_custkey").as("dst"))
  }

  private val edgesSql = """
    SELECT a.c_custkey AS src, b.c_custkey AS dst
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND b.c_custkey > a.c_custkey AND b.c_custkey <= a.c_custkey + 2"""

  /** Bounded subgraph for the k-core / SCC gates. */
  private val SP_MAX_KEY = 200

  /** Link-prediction edge band (see q_link_prediction's density note). */
  private val LP_KEY_WINDOW = 25
  private val lpEdgesSql = s"""
    SELECT a.c_custkey AS src, b.c_custkey AS dst
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND b.c_custkey > a.c_custkey AND b.c_custkey <= a.c_custkey + $LP_KEY_WINDOW"""

  /** Shortest-paths subgraph: same-nation edges with a WIDER key window
    * (diff <= 60, keys < 600) than the braided-chain rule — same-nation keys
    * sit ~25 apart on average, so the chain window (<=2) leaves the bounded
    * subgraph nearly edgeless and the round-4 gate returned 0 rows on both
    * engines (a vacuous pass). The wide window yields a connected component
    * with diameter >10 at sf0.01 (62 oracle rows). Landmarks are NOT pinned
    * keys: they are derived from the data (the two smallest vertices that
    * have an edge) so a fixture regeneration can never strand them. */
  private val SP_WIN_MAX_KEY = 600
  private val SP_KEY_WINDOW = 60
  private val SP_DEPTH = 30

  val defs: Map[String, QueryDef] = Map(

    // ----- G1: graph construction + degree (the simplest whole-graph check)
    "q_graph_degree" -> QueryDef.sql(s"""
      WITH e AS ($edgesSql),
      sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)
      SELECT src AS vertex, COUNT(*) AS degree
      FROM sym GROUP BY src ORDER BY vertex""") { (s, d) =>
      GraphOps.symmetric(GraphOps.canonicalEdges(customerEdges(s, d), "src", "dst"))
        .groupBy(col("src").as("vertex")).agg(count(lit(1)).as("degree"))
        .orderBy("vertex")
    },

    // ----- G4: triangle count per vertex (forward-adjacency supersteps; integer-exact)
    "q_triangles" -> QueryDef.sql(s"""
      WITH e AS ($edgesSql),
      tri AS (SELECT a.src AS x, a.dst AS y, b.dst AS z
              FROM e a JOIN e b ON b.src = a.dst
                       JOIN e c ON c.src = a.src AND c.dst = b.dst),
      pertex AS (SELECT x AS vertex FROM tri UNION ALL
                 SELECT y FROM tri UNION ALL SELECT z FROM tri),
      verts AS (SELECT DISTINCT src AS vertex FROM
                (SELECT src FROM e UNION ALL SELECT dst FROM e))
      SELECT v.vertex, COALESCE(t.n, 0) AS n_triangles
      FROM verts v LEFT JOIN
        (SELECT vertex, COUNT(*) AS n FROM pertex GROUP BY vertex) t
        ON t.vertex = v.vertex
      ORDER BY v.vertex""") { (s, d) =>
      GraphOps.triangleCounts(
          GraphOps.canonicalEdges(customerEdges(s, d), "src", "dst"))
        .orderBy("vertex")
    },

    // ----- G2: PageRank — DataFrame-iterative, oracle = unrolled CTE chain
    "q_pagerank" -> QueryDef.sql(
      GraphOps.pageRankOracleSql(edgesSql, numIter = 10)) { (s, d) =>
      GraphOps.pageRankDF(
          GraphOps.canonicalEdges(customerEdges(s, d), "src", "dst"),
          numIter = 10)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex")
    },

    // ----- G2 personalized form: teleport restricted to a probe set — the
    // reference's "which bills are most connected to THIS bill" probe queries
    // (docs/example1.md:13-17) as a whole-graph ranking instead of a top-K
    // filter. Rank diffuses from the sources; oracle is the same unrolled-CTE
    // scheme with a membership-gated teleport term.
    "q_pagerank_personalized" -> QueryDef.sql(
      GraphOps.personalizedPageRankOracleSql(edgesSql, sources = Seq(1L, 5L),
        numIter = 10)) { (s, d) =>
      GraphOps.personalizedPageRankDF(
          GraphOps.canonicalEdges(customerEdges(s, d), "src", "dst"),
          sources = Seq(1L, 5L), numIter = 10)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex")
    },

    // ----- G2 weighted form: the reference's normalized-edge-weight PageRank
    // (GraphUtils.scala:24-31 — similarity-weighted edges). Deterministic
    // integer-valued weights stand in for similarity scores; rank distributes
    // proportionally to incident weight.
    "q_pagerank_weighted" -> QueryDef.sql(
      GraphOps.pageRankWeightedOracleSql(
        s"""SELECT src, dst, CAST((src + dst) % 5 + 1 AS DOUBLE) AS weight
            FROM ($edgesSql)""", numIter = 10)) { (s, d) =>
      val weighted = GraphOps.canonicalEdges(customerEdges(s, d), "src", "dst")
        .withColumn("weight", ((col("src") + col("dst")) % 5 + 1).cast("double"))
      GraphOps.pageRankWeightedDF(weighted, numIter = 10)
        .select(col("vertex"), round(col("rank"), 6).as("rank"))
        .orderBy("vertex")
    },

    // ----- G-extension: connected components (min-label supersteps; component
    // id = min vertex id, oracle = recursive reachability closure with
    // min-root rollup)
    "q_connected_components" -> QueryDef.sql(s"""
      WITH RECURSIVE e AS ($edgesSql),
      sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      reach AS (
        SELECT src AS vertex, src AS root FROM sym
        UNION
        SELECT s.dst, r.root FROM reach r JOIN sym s ON s.src = r.vertex)
      SELECT vertex, MIN(root) AS component
      FROM reach GROUP BY vertex ORDER BY vertex""") { (s, d) =>
      GraphOps.connectedComponents(
          GraphOps.canonicalEdges(customerEdges(s, d), "src", "dst"))
        .orderBy("vertex")
    },

    // ----- G-extension: strongly connected components over a DIRECTED graph
    // (GraphX's algorithm on supersteps; component id = min vertex id in the
    // SCC). Direction: the key-diff edges point low→high; every third edge
    // (deterministic (src+dst) mod rule) also gets a back edge, closing
    // cycles of varying length along each nation chain. Oracle = recursive
    // reachability closure + mutual-reachability rollup, bounded to the same
    // small subgraph as shortest paths so the closure stays gate-sized at
    // any SF.
    "q_scc" -> QueryDef.sql(s"""
      WITH RECURSIVE e AS (
        $edgesSql AND b.c_custkey < $SP_MAX_KEY AND a.c_custkey < $SP_MAX_KEY),
      dir AS (SELECT src, dst FROM e
              UNION ALL
              SELECT dst AS src, src AS dst FROM e WHERE (src + dst) % 3 = 0),
      reach AS (
        SELECT src AS u, dst AS v FROM dir
        UNION
        SELECT r.u, d.dst FROM reach r JOIN dir d ON d.src = r.v),
      verts AS (SELECT DISTINCT v FROM
                (SELECT src AS v FROM dir UNION ALL SELECT dst FROM dir)),
      mutual AS (SELECT a.u AS x, a.v AS y
                 FROM reach a JOIN reach b ON b.u = a.v AND b.v = a.u)
      SELECT v.v AS vertex, LEAST(v.v, COALESCE(MIN(m.y), v.v)) AS component
      FROM verts v LEFT JOIN mutual m ON m.x = v.v
      GROUP BY v.v ORDER BY vertex""") { (s, d) =>
      val e = customerEdges(s, d)
        .filter(col("src") < SP_MAX_KEY && col("dst") < SP_MAX_KEY)
      val dir = e.unionByName(
        e.filter((col("src") + col("dst")) % 3 === 0)
          .select(col("dst").as("src"), col("src").as("dst")))
      // convergent variant — a fixed bound (20) would silently return wrong
      // component ids the moment a larger SF grows a longer nation chain
      GraphOps.stronglyConnectedComponents(dir)
        .orderBy("vertex")
    },

    // ----- G-extension: label propagation community detection — synchronous
    // LPA with the deterministic (count DESC, label ASC) tie-break, 4
    // iterations. GraphX's LabelPropagation tie-breaks on hash-map order and
    // is irreproducible; the superstep form is exact, so the oracle unrolls
    // the same fixed iterations (like q_pagerank). Communities here converge
    // toward the per-nation chain segments.
    "q_label_propagation" -> QueryDef.sql(
      GraphOps.labelPropagationOracleSql(edgesSql, numIter = 4)) { (s, d) =>
      GraphOps.labelPropagationDF(
          GraphOps.canonicalEdges(customerEdges(s, d), "src", "dst"), 4)
        .select(col("vertex"), col("label").as("community"))
        .orderBy("vertex")
    },

    // ----- G-extension: k-core coreness by iterative peeling (k = 1..4).
    // Runs on the key-bounded slice (keys < 200, like shortest paths) with an
    // extra (i, i+3) skip edge where i % 3 = 0 — the braid alone is uniformly
    // 2-core, the skip edges create pockets of coreness 3. The slice keeps
    // the peel-cascade length SF-independent, so the oracle's fixed 12-round
    // unroll always covers the fixpoint the Spark side asserts it reached.
    "q_kcore" -> QueryDef.sql(
      GraphOps.corenessOracleSql(s"""
        SELECT a.c_custkey AS src, b.c_custkey AS dst
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND b.c_custkey > a.c_custkey
         AND (b.c_custkey <= a.c_custkey + 2
              OR (b.c_custkey = a.c_custkey + 3 AND a.c_custkey % 3 = 0))
        WHERE a.c_custkey < $SP_MAX_KEY AND b.c_custkey < $SP_MAX_KEY""",
        maxK = 4, rounds = 12)) { (s, d) =>
      val edges = customerEdges(s, d, (a, b) =>
        (b <= a + 2 || (b === a + 3 && a % 3 === 0)) && a < SP_MAX_KEY && b < SP_MAX_KEY)
      GraphOps.corenessDF(GraphOps.canonicalEdges(edges, "src", "dst"), maxK = 4)
        .orderBy("vertex")
    },

    // ----- G-extension: HITS hub/authority (Kleinberg) over the DIRECTED
    // low→high edge set — the link-analysis complement to q_pagerank. Max-
    // normalized per iteration (order-independent, so the unrolled-CTE oracle
    // replays the arithmetic exactly); 8 iterations, scores rounded to 6.
    "q_hits" -> QueryDef.sql(
      GraphOps.hitsOracleSql(edgesSql, numIter = 8)) { (s, d) =>
      GraphOps.hitsDF(customerEdges(s, d), numIter = 8)
        .select(col("vertex"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("vertex")
    },

    // ----- G3: landmark shortest paths (BFS supersteps; integer-exact;
    // oracle = recursive BFS with UNION dedup, depth-bounded over the small
    // subgraph; landmarks data-derived, never pinned — see SP_WIN_MAX_KEY doc)
    "q_shortest_paths" -> QueryDef.sql(s"""
      WITH RECURSIVE e AS (
        SELECT a.c_custkey AS src, b.c_custkey AS dst
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND b.c_custkey > a.c_custkey
         AND b.c_custkey <= a.c_custkey + $SP_KEY_WINDOW
        WHERE a.c_custkey < $SP_WIN_MAX_KEY AND b.c_custkey < $SP_WIN_MAX_KEY),
      sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      lms AS (SELECT DISTINCT src AS lm FROM sym ORDER BY lm LIMIT 2),
      bfs AS (
        SELECT lm AS vertex, lm AS landmark, 0 AS d FROM lms
        UNION
        SELECT s.dst, b.landmark, b.d + 1
        FROM bfs b JOIN sym s ON s.src = b.vertex
        WHERE b.d < $SP_DEPTH)
      SELECT vertex, landmark, MIN(d) AS distance
      FROM bfs GROUP BY vertex, landmark ORDER BY vertex, landmark""") { (s, d) =>
      val raw = customerEdges(s, d, (a, b) =>
        b <= a + SP_KEY_WINDOW && a < SP_WIN_MAX_KEY && b < SP_WIN_MAX_KEY)
      val edges = GraphOps.canonicalEdges(raw, "src", "dst")
      // landmarks = two smallest edge endpoints (bounded driver scalar: 2 rows)
      val landmarks = GraphOps.symmetric(edges)
        .select(col("src")).distinct().orderBy("src").limit(2)
        .collect().map(_.getLong(0)).toSeq
      GraphOps.shortestPathLengths(edges, landmarks)
        .orderBy("vertex", "landmark")
    },

    // ----- G-extension: link prediction (common neighbors + neighborhood
    // Jaccard) — the candidate-generation half of a similarity-graph
    // completion pass. Pairs come from the middle-vertex equi-join (work
    // bucketed per shared neighbor, never all-pairs); existing edges drop via
    // LEFT ANTI; score = one final double division. Totally ordered by
    // (u, v); integer cn plus single-division jaccard keep the hash exact.
    // Runs on a WIDER same-nation band (diff <= 25) than the braided chain:
    // same-nation keys sit ~25 apart, so the chain window (<=2) leaves almost
    // no distance-2 pairs and the gate would be near-vacuous (5 rows).
    "q_link_prediction" -> QueryDef.sql(
      GraphOps.linkPredictionOracleSql(lpEdgesSql) + "\n    ORDER BY u, v") {
      (s, d) =>
      val raw = customerEdges(s, d, (a, b) => b <= a + LP_KEY_WINDOW)
      GraphOps.linkPrediction(GraphOps.canonicalEdges(raw, "src", "dst"))
        .orderBy("u", "v")
    }
  )
}
