package graft.ann

import graft.similarity.ArrayOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT cosine-threshold self-join over a dense embedding column — every
  * pair with cosine ≥ t, no sampling, no LSH recall risk: the dense-vector
  * complement of [[graft.dedup.PrefixJoin]] (exact for sets) and the
  * certifying twin of the approximate paths (SignLsh buckets, SemDeDup
  * clusters). Classic metric-space pruning (Burkhard-Keller 1973 pivot
  * tables; Chávez et al., "Searching in Metric Spaces", 2001):
  *
  *  - NORMALIZE: on unit vectors, cos(a,b) ≥ t ⟺ ‖â−b̂‖ ≤ r, r = √(2−2t) —
  *    cosine becomes the chord METRIC, so the triangle inequality applies.
  *  - GRID (complete): for any pivot p, |d(â,p) − d(b̂,p)| ≤ ‖â−b̂‖ ≤ r, so
  *    ring indices ⌊d/r⌋ of a qualifying pair differ by AT MOST 1 — values
  *    within r of each other cannot skip a whole width-r bucket. With TWO
  *    fixed pivots (the e₁/e₂ basis vectors — literals, so an external
  *    oracle can replay the whole plan) the bound holds per dimension:
  *    cells (⌊d₁/r⌋, ⌊d₂/r⌋) of a qualifying pair are 3×3 neighbors. One
  *    side joins on its own cell, the other emits its 9 neighbor keys —
  *    every qualifying pair meets exactly once, and two pivots multiply
  *    cell selectivity where one ring's population would hot-spot the join.
  *  - PIVOT FILTERS (cheap, scalar): |d₁a−d₁b| ≤ r and |d₂a−d₂b| ≤ r prune
  *    inside the join condition before any vector travels.
  *  - VERIFY: exact cosine on the original vectors for survivors.
  *
  * Floating point cannot cost completeness: the ring property is exact for
  * the computed doubles (both sides of the join see the SAME d values), the
  * pivot filters carry 1e-9 over-keeping slack, and the verify re-judges
  * every candidate.
  *
  * 100 TB shape: two linear scans (distance projection, ring keys) and ONE
  * equi-join on the ring id; vectors ride the candidate join only for
  * survivor verification via id re-joins (the PrefixJoin/MinHashDedup
  * discipline). Ring population is data-dependent — a corpus collapsed
  * around one point degenerates toward all-pairs, which is also that
  * corpus's true answer size (the PrefixJoin argument: output, not the
  * algorithm, is the floor).
  */
object CosineJoin {

  /** Batch-vs-corpus EXACT incremental form ([[graft.dedup.PrefixJoin]]
    * .dedupAgainst's contract for embeddings): the rows of `batch` whose
    * vector matches NOTHING in `corpus` at cosine ≥ minCos — a certifying
    * ingest gate with zero recall risk. Same ring/pivot pruning; the corpus
    * rings are a function of the corpus alone, so an ingest loop computes
    * them once per corpus generation and reuses them per arriving batch. */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, minCos: Double): DataFrame = {
    require(minCos > 0.0 && minCos < 1.0, s"minCos in (0,1): $minCos")
    val r = math.sqrt(2.0 - 2.0 * minCos)
    val cs = rings(corpus, idCol, vecCol, r)
    val bs = rings(batch, idCol, vecCol, r)
    // the BATCH side (small) explodes to its 3×3 cell neighborhood; the
    // corpus side keeps one row per vector (selfJoin's grid argument)
    val cand = neighbourKeys(bs).join(ownCell(cs, "c"),
        col("__kb1") === col("__kc1") && col("__kb2") === col("__kc2") &&
        abs(col("__d1b") - col("__d1c")) <= lit(r + 1e-9) &&
        abs(col("__d2b") - col("__d2c")) <= lit(r + 1e-9))
      .select(col("__b"), col("__c"))
      .dropDuplicates("__b", "__c")
    val dupIds = cand
      .join(vectors(bs, "b"), "__b")
      .join(vectors(cs, "c"), "__c")
      .filter(ArrayOps.cosine(col("__vb"), col("__vc")) >= lit(minCos))
      .select(col("__b")).distinct()
    // zero-norm batch rows can never match at a positive threshold: survivors
    batch.join(dupIds, batch(idCol) === dupIds("__b"), "left_anti")
  }

  private def pivotDist(vecCol: String, i: Int): Column =
    sqrt(lit(2.0) - lit(2.0) * element_at(col(vecCol), i) /
      sqrt(ArrayOps.norm2sq(col(vecCol))))

  /** The nonzero vectors of `df` as (__id, __v, pivot distances __d1, __d2,
    * ring indices __r1, __r2) at ring width `r`. */
  private def rings(df: DataFrame, idCol: String, vecCol: String, r: Double): DataFrame =
    df.filter(ArrayOps.norm2sq(col(vecCol)) > 0.0)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        pivotDist(vecCol, 1).as("__d1"), pivotDist(vecCol, 2).as("__d2"))
      .withColumn("__r1", floor(col("__d1") / lit(r)).cast("long"))
      .withColumn("__r2", floor(col("__d2") / lit(r)).cast("long"))

  /** The side that joins on its own cell: (__t, __d1t, __d2t, __kt1, __kt2). */
  private def ownCell(sk: DataFrame, t: String): DataFrame =
    sk.select(col("__id").as(s"__$t"), col("__d1").as(s"__d1$t"), col("__d2").as(s"__d2$t"),
      col("__r1").as(s"__k${t}1"), col("__r2").as(s"__k${t}2"))

  /** The verify payload: (__t, __vt). */
  private def vectors(sk: DataFrame, t: String): DataFrame =
    sk.select(col("__id").as(s"__$t"), col("__v").as(s"__v$t"))

  /** The side that emits its 3×3 neighbour cells: (__b, __d1b, __d2b, __kb1, __kb2). */
  private def neighbourKeys(sk: DataFrame): DataFrame = {
    val off = array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
      struct(lit(i.toLong).as("i"), lit(j.toLong).as("j")))): _*)
    sk.select(col("__id").as("__b"), col("__d1").as("__d1b"),
      col("__d2").as("__d2b"), col("__r1"), col("__r2"),
      explode(off).as("__o"))
      .select(col("__b"), col("__d1b"), col("__d2b"),
        (col("__r1") + col("__o.i")).as("__kb1"),
        (col("__r2") + col("__o.j")).as("__kb2"))
  }

  /** All pairs (id1 < id2, cos) with cosine ≥ minCos; `cos` rounded to 6
    * (threshold applied before rounding). Zero-norm vectors cannot reach any
    * positive threshold and are dropped up front. */
  def selfJoin(df: DataFrame, idCol: String, vecCol: String,
               minCos: Double): DataFrame = {
    require(minCos > 0.0 && minCos < 1.0, s"minCos in (0,1): $minCos")
    val r = math.sqrt(2.0 - 2.0 * minCos)
    val sk = rings(df, idCol, vecCol, r)
    // 2-D grid cells (both pivots): the ring bound holds PER PIVOT, so a
    // qualifying pair's cell coordinates differ by at most 1 in each
    // dimension — a joins on its OWN cell, b emits its 3×3 neighborhood,
    // and every |Δr1|≤1 ∧ |Δr2|≤1 pair meets on exactly the one emitted
    // key equal to a's cell (the canonical order below is by ID, so a can
    // sit either side of b in either dimension). Two pivots multiply cell
    // selectivity where one ring's population would hot-spot the join.
    val cand = ownCell(sk, "a").join(neighbourKeys(sk),
        col("__ka1") === col("__kb1") && col("__ka2") === col("__kb2") &&
        col("__a") < col("__b") &&
        abs(col("__d1a") - col("__d1b")) <= lit(r + 1e-9) &&
        abs(col("__d2a") - col("__d2b")) <= lit(r + 1e-9))
      .select(col("__a"), col("__b"))
      .dropDuplicates("__a", "__b")
    cand
      .join(vectors(sk, "a"), "__a")
      .join(vectors(sk, "b"), "__b")
      .withColumn("__cos", ArrayOps.cosine(col("__va"), col("__vb")))
      .filter(col("__cos") >= lit(minCos))
      .select(col("__a").as("id1"), col("__b").as("id2"),
        round(col("__cos"), 6).as("cos"))
  }
}
