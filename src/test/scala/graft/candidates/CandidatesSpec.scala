package graft.candidates

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Blocked candidate-pair self-join (SURVEY J2) — predicate semantics of the
  * reference's `pairup` (reference feature/Utils.scala:46-105). */
class CandidatesSpec extends SparkSpec {
  import spark.implicits._

  // (pk, state, cluster, length)
  private lazy val docs = Seq(
    ("a", "FL", 0, 1000L),
    ("b", "SC", 0, 1100L),
    ("c", "MI", 0, 5000L),
    ("d", "FL", 1, 1000L),
    ("e", "SC", 1, 1000L),
    ("f", "FL", 0, 1050L)
  ).toDF("pk", "state", "prediction", "length")

  private val base = CandidateConfig(keyCol = "pk", groupCol = "state")

  test("pairs: same block, different state, pk1 < pk2") {
    val got = Candidates.pairs(docs, base)
      .as[(String, String)].collect().toSet
    // block 0: {a,b,c,f}: ab,ac,bc,bf,cf (af same state FL) — block 1: de
    assert(got == Set(("a", "b"), ("a", "c"), ("b", "c"), ("b", "f"), ("c", "f"), ("d", "e")))
  }

  test("no blocking column → cross-block pairs appear") {
    val got = Candidates.pairs(docs, base.copy(blockCol = None))
      .as[(String, String)].collect().toSet
    assert(got.contains(("a", "d")) === false) // same state FL
    assert(got.contains(("a", "e")))           // cross-block FL-SC
    assert(got.contains(("c", "d")))
  }

  test("length-ratio band prunes lopsided pairs") {
    val got = Candidates.pairs(docs,
      base.copy(lengthCol = Some("length"), maxLengthRatio = 0.26))
      .as[(String, String)].collect().toSet
    // |1000-5000|/sqrt(1000*5000) = 1.78 > 0.26 → (a,c) pruned
    assert(!got.contains(("a", "c")))
    assert(got.contains(("a", "b"))) // |1000-1100|/sqrt(1000*1100)=0.095
  }

  /** Under Spark 4's default ANSI mode `/` raises DIVIDE_BY_ZERO on the
    * zero denominator of an empty text; the reference's double arithmetic
    * gives Infinity or NaN, which fail the band. */
  test("length band drops an empty-text doc's pairs instead of dividing by zero") {
    val banded = base.copy(lengthCol = Some("length"), maxLengthRatio = 0.26)
    val withEmpty = docs.union(Seq(("g", "MI", 0, 0L), ("h", "SC", 0, 0L))
      .toDF("pk", "state", "prediction", "length"))
    assert(withConfAnsi(Candidates.pairs(withEmpty, banded)) ==
      Candidates.pairs(docs, banded).as[(String, String)].collect().toSet)

    val vEmpty = vdocs.withColumn("length", lit(0L))
    assert(withConfAnsi(Candidates.pairsWithBudget(vEmpty, banded, "features",
      maxBlockSize = 4, numHashes = 64, bands = 8)).isEmpty)
  }

  private def withConfAnsi(pairs: => DataFrame): Set[(String, String)] = {
    var got = Set.empty[(String, String)]
    withConf(Seq("spark.sql.ansi.enabled" -> "true")) {
      got = pairs.as[(String, String)].collect().toSet
    }
    got
  }

  test("include list restricts the universe") {
    val got = Candidates.pairs(docs,
      base.copy(includeKeys = Some(Seq("a", "b", "c"))))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("exclude list removes keys") {
    val got = Candidates.pairs(docs, base.copy(excludeKeys = Some(Seq("c"))))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("b", "f"), ("d", "e")))
  }

  test("pairsLevel0: onlyInOut=false canonicalizes each cross-state pair once") {
    val got = Candidates.pairsLevel0(docs, base, onlyInOut = false)
      .as[(String, String)].collect().toSet
    // brute force: all unordered cross-state pairs (no blocking at level 0)
    val rows = Seq(("a","FL"),("b","SC"),("c","MI"),("d","FL"),("e","SC"),("f","FL"))
    val want = (for {
      (p1, s1) <- rows; (p2, s2) <- rows
      if p1 < p2 && s1 != s2
    } yield (p1, p2)).toSet
    assert(got == want)
    assert(got.contains(("a", "e"))) // cross-block pair: level 0 ignores blocks
  }

  test("pairsLevel0: onlyInOut=true keeps BOTH orientations (reference pk1 != pk2)") {
    val both = Candidates.pairsLevel0(docs, base, onlyInOut = true)
      .as[(String, String)].collect().toSet
    val once = Candidates.pairsLevel0(docs, base, onlyInOut = false)
      .as[(String, String)].collect().toSet
    assert(both == once ++ once.map(_.swap))
    assert(both.size == 2 * once.size)
  }

  test("attachBothSides carries payload to both pair sides") {
    val pairs = Candidates.pairs(docs, base)
    val payload = docs.select($"pk", $"length".as("len"))
    val got = Candidates.attachBothSides(pairs, payload, "pk", "len")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("a", "b")) == (1000L, 1100L))
    assert(got(("c", "f")) == (5000L, 1050L))
  }

  // ---- pairsWithBudget: quadratic-blowup guard for oversized blocks ----

  private lazy val vdocs = {
    import org.apache.spark.ml.linalg.Vectors
    def sv(ix: Int*) = Vectors.sparse(60, ix.toArray, Array.fill(ix.length)(1.0))
    Seq(
      // block 0: 5 docs (oversized under cap 4)
      ("g1", "FL", 0, sv(1, 2, 3, 4, 5)),   // identical support pair ...
      ("g2", "SC", 0, sv(1, 2, 3, 4, 5)),   // ... must survive the LSH path
      ("h1", "FL", 0, sv(10, 11, 12)),      // pairwise-disjoint supports:
      ("h2", "SC", 0, sv(20, 21, 22)),      // zero-similarity pairs the
      ("h3", "MI", 0, sv(30, 31, 32)),      // budget is allowed to drop
      // block 1: 2 docs (exact path)
      ("s1", "FL", 1, sv(1, 2)),
      ("s2", "SC", 1, sv(3, 4))
    ).toDF("pk", "state", "prediction", "features")
  }

  test("pairsWithBudget: cap above every block size reproduces pairs() exactly") {
    val exact = Candidates.pairs(vdocs, base).as[(String, String)].collect().toSet
    val got = Candidates.pairsWithBudget(vdocs, base, "features", maxBlockSize = 100)
      .as[(String, String)].collect().toSet
    assert(got == exact)
  }

  test("pairsWithBudget: oversized block switches to LSH, keeps identical-support pairs") {
    val exact = Candidates.pairs(vdocs, base).as[(String, String)].collect().toSet
    val got = Candidates.pairsWithBudget(vdocs, base, "features",
        maxBlockSize = 4, numHashes = 64, bands = 8)
      .as[(String, String)].collect().toSet
    assert(got.subsetOf(exact), s"budget path invented pairs: ${got -- exact}")
    assert(got.contains(("g1", "g2")), "identical-support pair dropped by LSH banding")
    assert(got.contains(("s1", "s2")), "small block must keep the exact path")
    val hPairs = got.filter { case (x, y) => x.startsWith("h") && y.startsWith("h") }
    assert(hPairs.isEmpty, s"disjoint-support pairs should not bucket-collide: $hPairs")
    assert(got.size < exact.size, "budget produced no reduction on the oversized block")
  }
}
