package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering — the AllPairs /
  * PPJoin family (Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity
  * Search", WWW 2007; Xiao, Wang, Lin & Yu, "Efficient Similarity Joins for
  * Near Duplicate Detection", WWW 2008): every pair of documents with
  * shingle-set Jaccard ≥ τ, with NO sampling and NO LSH recall risk. The
  * deterministic complement to [[MinHashDedup]]: banding misses a true pair
  * with probability (1−s^r)^b > 0; prefix filtering misses NONE — each
  * filter below is provably complete, and the exact verify re-judges every
  * candidate, so output = the mathematical answer set.
  *
  * Filter chain:
  *  - SIZE: J(a,b) ≥ τ ⇒ τ·|a| ≤ |b| ≤ |a|/τ (|∩| ≤ min, |∪| ≥ max).
  *  - PREFIX: order the shingle universe by ascending document frequency
  *    (rarest first, ties by shingle value — one TOTAL order shared by all
  *    documents); keep each document's first |d| − ⌈τ·|d|⌉ + 1 tokens in
  *    that order. J ≥ τ with the size filter gives |∩| ≥ ⌈τ·|d|⌉ on each
  *    side, and a document whose whole prefix avoids the intersection has
  *    only ⌈τ·|d|⌉ − 1 slots left for it — contradiction — so every
  *    qualifying pair shares ≥ 1 token lying in BOTH prefixes, and the
  *    prefix-token equi-join finds it.
  *  - POSITIONAL (PPJoin, Xiao et al. §3.2): a match on token t at 1-based
  *    global-order positions (i, j) bounds the overlap from above —
  *    |∩| ≤ 1 + min(|a| − i, |b| − j), because tokens before the match
  *    positions can only be shared if an EARLIER matched row exists, and
  *    that row's own bound is looser. J ≥ τ needs
  *    |∩| ≥ ⌈τ/(1+τ)·(|a|+|b|)⌉, so a matched row whose bound falls short
  *    is dropped BEFORE the pair-dedup shuffle and the verify set joins.
  *    Completeness: a qualifying pair's FIRST shared token in the global
  *    order lies in both prefixes (prefix theorem) and yields the pair's
  *    LOOSEST bound, which a true-qualifying pair always passes — the pair
  *    survives via that row even if later matched rows are filtered.
  *  - VERIFY: exact |∩| by one [[graft.expressions.SortedLongInterCount]]
  *    merge over the full value-sorted 64-bit shingle-id sets; Jaccard from
  *    (|∩|, |a|, |b|) scalars. 64-bit ids make cross-shingle hash
  *    collisions ~2⁻⁶⁴ (the q_minhash_dedup verify argument).
  *
  * Floating-point discipline: every fp comparison in the filters carries a
  * 1e-9 slack in the OVER-KEEPING direction (a boundary pair is never
  * dropped by ulp noise — ⌈0.1·10⌉ must not become 2 — only re-judged by
  * the exact verify), so fp cannot cost completeness, only a few spurious
  * candidates.
  *
  * 100 TB shape: every set is exploded to (document, token) rows once.
  * One shuffle of those rows by token gives each token's document frequency
  * (a count window), and one shuffle by document collects each document's
  * tokens in the global order: its prefix, and, sorted by value, its
  * verify set. Every shingle set is therefore built once per call, in the
  * map stage of the token shuffle, and nothing is cached. A token held by a
  * large share of the documents is one window partition, and AQE cannot
  * split a window partition: one task buffers (and past its threshold
  * spills) all of that token's rows, where a grouped count would combine
  * them map-side. The prefix still keeps such a token out of the
  * candidate join, an equi-join on prefix tokens whose buckets are each
  * document's RAREST tokens by construction — a frequent token enters a
  * prefix only when a document has nothing rarer, which is exactly when it
  * carries signal. Verify sets re-attach by id join for the surviving
  * candidates only (the MinHashDedup discipline: wide arrays never ride
  * the candidate shuffle).
  */
object PrefixJoin {

  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      jaccardThreshold: Double = 0.7)

  /** All pairs (d1 < d2) with shingle Jaccard ≥ threshold, as
    * (d1, d2, jac) with jac in percent rounded to 4 (threshold applied to
    * the unrounded ratio) — the [[MinHashDedup.nearDupPairs]] output
    * contract, exact instead of banded. */
  def allPairs(df: DataFrame, cfg: Config = Config()): DataFrame = {
    val tau = cfg.jaccardThreshold
    require(tau > 0.0 && tau <= 1.0, s"threshold in (0,1]: $tau")
    allPairsOnSets(
      df.select(col(cfg.idCol).as("__id"),
        MinHashDedup.shingleIds(col(cfg.textCol), cfg.shingleSize).as("__sids")),
      "__id", "__sids", tau, tau * 100.0)
  }

  /** [[allPairs]] over PRE-BUILT 64-bit element-id sets (array<long>, in
    * any order), optionally BLOCKED: with `blockCol` set, only pairs
    * sharing that column's value are reported — the per-cluster / per-group
    * exact all-pairs shape (SURVEY J9) on the PPJoin physical plan instead
    * of a quadratic block self-join (r13; the blocked brute-force form
    * measured 50 s at sf0.1 where this runs the same output in ~2 s, and at
    * 100 TB a popular block makes the brute-force join quadratic in the
    * block size while the prefix join stays output-bounded). The filter
    * chain is identical — the block equality is one more predicate on the
    * prefix-token join, and completeness per block follows from the
    * unblocked theorem (the prefix order is global; any qualifying pair
    * still shares a prefix token). `tau` drives the provably-over-keeping
    * size/prefix/positional filters; `minJacPct` is applied EXACTLY to the
    * percent ratio (pass e.g. 80.0 — not a derived product — when the
    * oracle's cut is a literal). */
  def allPairsOnSets(sets0: DataFrame, idCol: String, setCol: String,
                     tau: Double, minJacPct: Double,
                     blockCol: Option[String] = None): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"threshold in (0,1]: $tau")
    // A null block pairs with nothing. Dropped here, once: the pair
    // predicate's inferred isnotnull(__tag) would otherwise reach only the
    // prefix branch, and the two branches would aggregate the token
    // exchange apart. Dropping it moves only document frequencies, and any
    // shared total order keeps the prefix theorem.
    val sets = sets0.select(blockCol.fold(lit(true))(c => col(c)).as("__tag"),
        col(idCol).as("__id"), col(setCol).as("__sids"))
      .filter(col("__tag").isNotNull)
    join(sets, tau, minJacPct, lit(true), lit(true),
        col("__taga") === col("__tagb") && col("__a") < col("__b"))
      .select(col("__a").as("d1"), col("__b").as("d2"),
        round(col("__jac"), 4).as("jac"))
  }

  /** Batch-vs-corpus EXACT incremental dedup — the rows of `batch` that
    * duplicate nothing in `corpus`, exactly (same text) or nearly (shingle
    * Jaccard ≥ threshold), with the [[MinHashDedup.dedupAgainst]] contract
    * but zero recall risk: a certifying ingest gate rather than a
    * probabilistic one.
    *
    * The prefix order is CORPUS document frequency (batch-only tokens get
    * df 0 = rarest). The prefix theorem needs only A shared total order —
    * the O-smallest common token of a qualifying pair sits within both
    * prefixes under any order — so using the corpus's own distribution is
    * sound AND operational: batch contents never shift the order. */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame,
                   cfg: Config = Config()): DataFrame = {
    val tau = cfg.jaccardThreshold
    require(tau > 0.0 && tau <= 1.0, s"threshold in (0,1]: $tau")
    val exactSurvivors = batch.join(
      corpus.select(md5(col(cfg.textCol).cast("binary")).as("__h")).distinct(),
      md5(col(cfg.textCol).cast("binary")) === col("__h"), "left_anti")
    // __tag marks the batch rows
    def sets(df: DataFrame, isBatch: Boolean) =
      df.select(lit(isBatch).as("__tag"), col(cfg.idCol).as("__id"),
        MinHashDedup.shingleIds(col(cfg.textCol), cfg.shingleSize).as("__sids"))
    val dupIds = join(sets(exactSurvivors, true).union(sets(corpus, false)),
        tau, tau * 100.0, col("__tag"), !col("__tag"), lit(true))
      .select(col("__a").as("__dup")).distinct()
    exactSurvivors.join(dupIds,
      exactSurvivors(cfg.idCol) === dupIds("__dup"), "left_anti")
  }

  /** The filter chain over `sets` = (__tag, __id, __sids): the pairs
    * (__a, __b) of an a-side and a b-side document (`isA`, `isB`, over
    * __tag) that meet `pairOk` (over __taga, __a, __tagb, __b), the size and
    * positional filters and the exact verify, with their Jaccard in percent
    * as __jac (≥ `minJacPct`). A token's document frequency counts the
    * b-side documents holding it. Ids are unique within each side, so the
    * pair dedup and the verify joins key on them alone. */
  private def join(sets: DataFrame, tau: Double, minJacPct: Double,
                   isA: Column, isB: Column, pairOk: Column): DataFrame = {
    // explode_outer, filtered on its output: an inner explode makes
    // InferFiltersFromGenerate add a size(__sids) > 0 filter below it, which
    // builds the set a second time. An empty set yields only the null row,
    // so it never reaches a prefix.
    val docs = sets
      .select(col("__tag"), col("__id"), explode_outer(col("__sids")).as("__t"))
      .filter(col("__t").isNotNull)
      .withColumn("__df", count(when(isB, 1)).over(Window.partitionBy("__t")))
      .groupBy("__tag", "__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__t")))).as("__ord"))
      .select(col("__tag"), col("__id"), size(col("__ord")).as("__n"),
        col("__ord").getField("__t").as("__toks"))
    // prefix = the first n − ⌈τ·n⌉ + 1 tokens in the global (df asc, token
    // asc) order (1e-9 under the product: ⌈⌉ may only err toward a LONGER
    // prefix); its 1-based offsets ARE full-order positions, as the PPJoin
    // bound needs. Every document here has a token, so the outer form adds
    // no row; it keeps the inferred size filter off the prefix too.
    val plen = (col("__n") - ceil(lit(tau) * col("__n") - lit(1e-9)) + 1)
      .cast("int")
    val prefixes = docs.select(col("__tag"), col("__id"), col("__n"),
      posexplode_outer(slice(col("__toks"), lit(1), greatest(plen, lit(1))))
        .as(Seq("__p0", "__t")))
    def side(s: String, is: Column) = prefixes.filter(is).select(
      col("__tag").as(s"__tag$s"), col("__id").as(s"__$s"), col("__n").as(s"__n$s"),
      (col("__p0") + 1).as(s"__p$s"), col("__t").as(s"__t$s"))
    // PPJoin positional filter: overlap needed α = ⌈τ/(1+τ)·(na+nb)⌉ (1e-9
    // under the product — ⌈⌉ may only err toward a SMALLER α = over-keeping);
    // this matched row bounds |∩| ≤ 1 + min(na − pa, nb − pb)
    val alpha = ceil(lit(tau / (1.0 + tau)) *
      (col("__na") + col("__nb")) - lit(1e-9))
    val cand = side("a", isA).join(side("b", isB),
        col("__ta") === col("__tb") && pairOk &&
        col("__na") * lit(tau) <= col("__nb").cast("double") + lit(1e-9) &&
        col("__nb") * lit(tau) <= col("__na").cast("double") + lit(1e-9) &&
        lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb"))
          >= alpha)
      .select(col("__a"), col("__b"))
      .dropDuplicates("__a", "__b")
    def verifySet(s: String, is: Column) = docs.filter(is).select(
      col("__id").as(s"__$s"), col("__n").as(s"__n$s"),
      sort_array(col("__toks")).as(s"__s$s"))
    val inter = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.SortedLongInterCount(
        org.apache.spark.sql.graft.bridge.expression(col("__sa")),
        org.apache.spark.sql.graft.bridge.expression(col("__sb"))))
    cand
      .join(verifySet("a", isA), "__a")
      .join(verifySet("b", isB), "__b")
      .withColumn("__i", inter)
      .withColumn("__jac",
        col("__i") * lit(100.0) / (col("__na") + col("__nb") - col("__i")))
      .filter(col("__jac") >= lit(minJacPct))
  }
}
