package graft

import graft.candidates.{CandidateConfig, Candidates}
import graft.dedup.{MinHashDedup, SimHash}
import graft.graph.GraphOps
import graft.post.Post
import graft.similarity.ArrayOps
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Degenerate-input behavior across the library: empty frames, empty
  * arrays/strings, single elements — the failure modes that surface only in
  * production partitions (empty partitions are routine at 1000 executors). */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup operators return empty results on empty input") {
    assert(MinHashDedup.nearDupPairs(emptyDocs,
      MinHashDedup.Config(shingleSize = 3)).count() == 0)
    assert(SimHash.nearDupPairs(emptyDocs).count() == 0)
    assert(MinHashDedup.dedupExact(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("dedupAgainst: empty corpus keeps the whole batch; empty batch stays empty") {
    val batch = Seq((1L, "some document text here"), (2L, "another doc")).toDF("doc_id", "text")
    val cfg = MinHashDedup.Config(shingleSize = 3, jaccardThreshold = 0.5)
    assert(MinHashDedup.dedupAgainst(batch, emptyDocs, cfg).count() == 2)
    assert(MinHashDedup.dedupAgainst(emptyDocs, batch, cfg).count() == 0)
  }

  test("Quantile2Pass rejects out-of-range ranks") {
    val df = Seq(1.0, 2.0).toDF("v")
    intercept[IllegalArgumentException] {
      graft.operators.Quantile2Pass.kthSmallest(df, "v", 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Quantile2Pass.kthSmallest(df, "v", 3)
    }
  }

  test("candidate pairs on empty and single-row inputs") {
    val empty = Seq.empty[(String, String, Int)].toDF("pk", "state", "prediction")
    val one = Seq(("a", "FL", 0)).toDF("pk", "state", "prediction")
    val cfg = CandidateConfig(keyCol = "pk", groupCol = "state")
    assert(Candidates.pairs(empty, cfg).count() == 0)
    assert(Candidates.pairs(one, cfg).count() == 0)
  }

  test("graph operators on empty edge lists") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val canonical = GraphOps.canonicalEdges(none, "src", "dst")
    assert(GraphOps.triangleCounts(canonical).count() == 0)
    assert(GraphOps.pageRankDF(canonical, 3).count() == 0)
    assert(GraphOps.connectedComponents(canonical).count() == 0)
    assert(GraphOps.hitsDF(none, 3).count() == 0)
    assert(GraphOps.labelPropagationDF(canonical, 3).count() == 0)
    assert(GraphOps.kCoreDF(canonical, 2).count() == 0)
    assert(GraphOps.corenessDF(canonical, 3).count() == 0)
    assert(GraphOps.shortestPathLengths(canonical, Seq(42L)).count() == 0)
    assert(GraphOps.stronglyConnectedComponents(none).count() == 0)
  }

  test("graph operators on a single edge") {
    val edge = Seq((3L, 9L)).toDF("src", "dst")
    val canonical = GraphOps.canonicalEdges(edge, "src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame): Set[List[Any]] =
      df.collect().map(_.toSeq.toList).toSet
    assert(rows(GraphOps.triangleCounts(canonical)) == Set(List(3L, 0), List(9L, 0)))
    val ranks = GraphOps.pageRankDF(canonical, 3).as[(Long, Double)].collect().toMap
    assert(ranks.keySet == Set(3L, 9L) && ranks.values.forall(r => math.abs(r - 1.0) < 1e-12))
    assert(rows(GraphOps.connectedComponents(canonical)) == Set(List(3L, 3L), List(9L, 3L)))
    // one hub, one authority; the other sides drop to 0
    assert(rows(GraphOps.hitsDF(edge, 3)) == Set(List(3L, 1.0, 0.0), List(9L, 0.0, 1.0)))
    // the synchronous swap: 3 labels an odd number of rounds later as 9
    assert(rows(GraphOps.labelPropagationDF(canonical, 3)) == Set(List(3L, 9L), List(9L, 3L)))
    assert(rows(GraphOps.kCoreDF(canonical, 1)) == Set(List(3L), List(9L)))
    assert(GraphOps.kCoreDF(canonical, 2).count() == 0)
    assert(rows(GraphOps.corenessDF(canonical, 3)) == Set(List(3L, 1L), List(9L, 1L)))
    assert(rows(GraphOps.shortestPathLengths(canonical, Seq(9L, 42L))) ==
      Set(List(9L, 9L, 0), List(3L, 9L, 1)))
    // a one-way edge is two SCCs; a two-way edge is one
    assert(rows(GraphOps.stronglyConnectedComponents(edge)) == Set(List(3L, 3L), List(9L, 9L)))
    val both = edge.unionByName(Seq((9L, 3L)).toDF("src", "dst"))
    assert(rows(GraphOps.stronglyConnectedComponents(both)) == Set(List(3L, 3L), List(9L, 3L)))
  }

  test("text ops on empty strings") {
    val r = Seq("").toDF("t").select(
      TextOps.tokens(col("t")).as("toks"),
      TextOps.langId(col("t")).as("lang"),
      TextOps.tokenCount(col("t")).as("n"),
      TextOps.fingerprint(col("t")).as("fp")).head()
    assert(r.getSeq[String](0).isEmpty)
    assert(r.getString(1) == "und")
    assert(r.getInt(2) == 0)
    assert(r.getString(3) == "d41d8cd98f00b204e9800998ecf8427e") // md5("")
    val grams = Seq(Seq.empty[String]).toDF("toks")
      .select(TextOps.ngrams(col("toks"), 3)).head().getSeq[String](0)
    assert(grams.isEmpty)
  }

  test("ArrayOps on zero vectors: cosine is NaN, not an exception") {
    val z = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = z.select(ArrayOps.cosine(col("a"), col("b")).as("c")).head()
    assert(r.getDouble(0).isNaN)
  }

  test("Post.topK with k larger than input; canonical order on single-token keys") {
    val p = Seq(("x_1", "y_2", 5.0)).toDF("pk1", "pk2", "similarity")
    assert(Post.topK(p, 100).count() == 1)
    val c = Post.imposeCanonicalOrder(
      Seq(("b", "a", 1.0)).toDF("pk1", "pk2", "similarity"))
      .select("pk_smaller", "pk_larger").as[(String, String)].head()
    assert(c == ("a", "b"))
  }

  test("minhash signature of empty shingle set is the sentinel, not a crash") {
    val sig = Seq("").toDF("t")
      .select(MinHashDedup.signature(
        MinHashDedup.shingleHashes(col("t"), 3), 16).as("s"))
      .head().getSeq[Long](0)
    assert(sig.forall(_ == (1L << 31) - 1))
  }

  test("porter stem expression: empty string, nulls, and non-letters pass through") {
    val r = Seq(Some(""), None, Some("123"), Some("a")).toDF("t")
      .select(TextOps.porterStem(col("t")).as("s"))
      .collect().map(r => Option(r.getString(0)))
    assert(r.toSeq == Seq(Some(""), None, Some("123"), Some("a")))
  }

  test("simhash md5Hash60 is non-negative and deterministic incl. empty string") {
    val r = Seq("", "alpha", "alpha").toDF("t")
      .select(SimHash.md5Hash60(col("t")).as("h")).as[Long].collect()
    assert(r.forall(_ >= 0L))
    assert(r(1) == r(2))
  }

  test("LSH joins survive docs that vectorize to all-zero") {
    val docs = Seq((1L, "the of and to"), (2L, "unique words here"),
      (3L, "unique words here")).toDF("doc_id", "text")
    val tf = graft.text.FeaturePipeline.features(docs,
      graft.text.FeatureConfig(numTextFeatures = 64, useIdf = false))
      .select("doc_id", "features")
    // doc 1 is all stopwords → zero vector; join must not throw and must
    // still pair 2 with 3
    val got = graft.lsh.LshJoins.minHashSelfJoin(tf, "doc_id", "features",
      threshold = 0.5).select("pk1", "pk2").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 3L)))
  }

  test("IVF build/search with k larger than corpus degrades gracefully") {
    val t = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(1.0, 1.0)))
      .toDF("vec_id", "v")
    val idx = graft.ann.Ivf.build(t, "v", k = 2)
    val probes = t.limit(1).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val res = graft.ann.Ivf.search(idx, probes, "vec_id", "v",
      topK = 10, nProbe = 99)
    assert(res.count() == 2) // all other vectors returned, self excluded
  }

  test("date parse fallback: unparseable strings become the default date") {
    val r = Seq("not a date").toDF("raw")
      .select(coalesce(try_to_timestamp(col("raw"), lit("MMMM d, yyyy")).cast("date"),
        to_date(lit("1900-12-31"))).as("d"))
      .head().getDate(0).toString
    assert(r == "1900-12-31")
  }

  test("range/overlap joins: empty sides and null timestamps drop out") {
    import graft.operators.RangeJoin
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(m * 60000L)
    val pts = Seq(("p1", Option(t(10))), ("pnull", None))
      .toDF("pt", "ts")
    val ivs = Seq(("w1", Option(t(0)), Option(t(60))),
        ("wnull", None, Option(t(60))))
      .toDF("win", "s", "e")
    val joined = RangeJoin.pointInInterval(pts, ivs, "ts", "s", "e")
      .select("pt", "win").as[(String, String)].collect().toSet
    assert(joined == Set("p1" -> "w1")) // null ts / null start never match
    val emptyPts = pts.limit(0)
    assert(RangeJoin.pointInInterval(emptyPts, ivs, "ts", "s", "e").count() == 0)
    val ivs2 = ivs.toDF("win2", "s2", "e2")
    assert(RangeJoin.intervalOverlap(ivs.limit(0), ivs2, "s", "e", "s2", "e2")
      .count() == 0)
  }

  test("salted and bloom joins: null keys behave like the plain inner join") {
    import graft.operators.{BloomPrefilter, SkewOps}
    val big = Seq((Option(1L), "a"), (None, "b"), (Option(2L), "c"))
      .toDF("k", "v")
    val small = Seq((Option(1L), "x"), (None, "y")).toDF("k", "tag")
    // inner equi-join: null keys never match, on either side
    val expected = Set((1L, "a", "x"))
    val salted = SkewOps.saltedJoin(big, small, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    val bloomed = BloomPrefilter.join(big, small, "k", expected = 10)
      .as[(Long, String, String)].collect().toSet
    assert(salted == expected && bloomed == expected)
    // empty small side: everything drops, no crash building the sketch
    assert(BloomPrefilter.join(big, small.limit(0), "k", expected = 10)
      .count() == 0)
  }

  test("topK aggregator on an empty group set returns no rows") {
    val empty = Seq.empty[(String, Double, Long)].toDF("k", "score", "id")
    assert(empty.groupBy("k")
      .agg(graft.functions.Aggregators.topK(3)(col("score"), col("id")))
      .count() == 0)
  }
}
