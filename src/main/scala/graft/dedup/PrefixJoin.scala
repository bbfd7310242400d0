package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
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
  * 100 TB shape: three corpus-token-scale shuffles build the ordered sets
  * (df count, df re-join, per-doc collect) — all LINEAR scans/aggregations;
  * the candidate join is an equi-join on prefix tokens, whose buckets are
  * each document's RAREST tokens by construction — the frequent-token hot
  * buckets that would blow up an unfiltered inverted index never enter a
  * prefix unless a document has nothing rarer, which is exactly when they
  * carry signal. Verify payloads re-attach by id join for survivors only
  * (the MinHashDedup discipline: wide arrays never ride the candidate
  * shuffle).
  *
  * Cache lifecycle (caller-owned): each call
  * persists its bounded sketch frame (ids + sorted shingle-id sets — no raw
  * text) at MEMORY_AND_DISK because four plan branches reuse it and Catalyst
  * cannot share an uncached subplan across them. The returned DataFrame
  * still references that cache, so the operator cannot unpersist it before
  * the caller materializes; a long-lived session issuing many calls should
  * `spark.catalog.clearCache()` (or unpersist via the UI-listed RDDs) after
  * consuming each result. Blocks are spill-safe — the leak costs storage
  * memory/disk, never correctness (ADVICE r9).
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
    // spread: shingling + array_sort is winnow-class per-row compute and the
    // sketch is MATERIALIZED once below (persist), so a one-row-group input
    // would serialize the whole build on one task (graft.io.Tables.spread
    // scaladoc; no-op on well-split tables)
    allPairsOnSets(
      graft.io.Tables.spread(df)
        .select(col(cfg.idCol).as("__id"),
          array_sort(MinHashDedup.shingleIds(col(cfg.textCol), cfg.shingleSize))
            .as("__sids")),
      "__id", "__sids", tau, tau * 100.0)
  }

  /** [[allPairs]] over PRE-BUILT sorted 64-bit element-id sets (array<long>,
    * value-ascending), optionally BLOCKED: with `blockCol` set, only pairs
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
    val blkCols = blockCol.toSeq.map(c => col(c).as("__blk"))
    val sk = sets0
      .select(Seq(col(idCol).as("__id"), col(setCol).as("__sids")) ++ blkCols: _*)
      .withColumn("__n", size(col("__sids")))
      .filter(col("__n") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blkSel = blockCol.toSeq.map(_ => col("__blk"))
    val toks = sk.select(Seq(col("__id"), col("__n")) ++ blkSel :+
      explode(col("__sids")).as("__t"): _*)
    val dfreq = toks.groupBy("__t").agg(count(lit(1)).as("__df"))
    // per-document tokens in the global (df asc, token asc) order; prefix =
    // first n − ⌈τ·n⌉ + 1 of them (1e-9 under the product: ⌈⌉ may only err
    // toward a LONGER prefix)
    val plen = (col("__n") - ceil(lit(tau) * col("__n") - lit(1e-9)) + 1)
      .cast("int")
    // posexplode: 0-based offset of the token within the (df asc, token asc)
    // global order — the position the PPJoin bound needs (prefix positions
    // ARE full-order positions: the prefix is the order's first plen tokens)
    val prefixes = toks.join(dfreq, "__t")
      .groupBy(Seq(col("__id"), col("__n")) ++ blkSel: _*)
      .agg(array_sort(collect_list(struct(col("__df"), col("__t")))).as("__ord"))
      .select(Seq(col("__id"), col("__n")) ++ blkSel :+
        posexplode(slice(transform(col("__ord"), x => x.getField("__t")),
          lit(1), greatest(plen, lit(1)))).as(Seq("__p0", "__t")): _*)
      .select(Seq(col("__id"), col("__n"), (col("__p0") + 1).as("__p"),
        col("__t")) ++ blkSel: _*)
    def side(tag: String) = {
      val cs = Seq(col("__id").as(s"__$tag"), col("__n").as(s"__n$tag"),
        col("__p").as(s"__p$tag"), col("__t").as(s"__t$tag")) ++
        blockCol.toSeq.map(_ => col("__blk").as(s"__blk$tag"))
      prefixes.select(cs: _*)
    }
    val a = side("a")
    val b = side("b")
    // PPJoin positional filter: overlap needed α = ⌈τ/(1+τ)·(na+nb)⌉ (1e-9
    // under the product — ⌈⌉ may only err toward a SMALLER α = over-keeping);
    // this matched row bounds |∩| ≤ 1 + min(na − pa, nb − pb)
    val alpha = ceil(lit(tau / (1.0 + tau)) *
      (col("__na") + col("__nb")) - lit(1e-9))
    val blockEq = blockCol.map(_ => col("__blka") === col("__blkb"))
      .getOrElse(lit(true))
    val cand = a.join(b,
        col("__ta") === col("__tb") && col("__a") < col("__b") && blockEq &&
        col("__na") * lit(tau) <= col("__nb").cast("double") + lit(1e-9) &&
        col("__nb") * lit(tau) <= col("__na").cast("double") + lit(1e-9) &&
        lit(1) + least(col("__na") - col("__pa"), col("__nb") - col("__pb"))
          >= alpha)
      .select(col("__a"), col("__b"))
      .dropDuplicates("__a", "__b")
    val sets = sk.select(col("__id"), col("__sids"), col("__n"))
    val inter = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.SortedLongInterCount(
        org.apache.spark.sql.graft.bridge.expression(col("__s1")),
        org.apache.spark.sql.graft.bridge.expression(col("__s2"))))
    cand
      .join(sets.select(col("__id").as("__a"), col("__sids").as("__s1"),
        col("__n").as("__n1")), "__a")
      .join(sets.select(col("__id").as("__b"), col("__sids").as("__s2"),
        col("__n").as("__n2")), "__b")
      .withColumn("__i", inter)
      .withColumn("__jac_raw",
        col("__i") * lit(100.0) / (col("__n1") + col("__n2") - col("__i")))
      .filter(col("__jac_raw") >= lit(minJacPct))
      .select(col("__a").as("d1"), col("__b").as("d2"),
        round(col("__jac_raw"), 4).as("jac"))
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
    * sound AND operational: an ingest loop computes the df table once per
    * corpus generation and reuses it for every arriving batch; batch
    * contents never shift the order. */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame,
                   cfg: Config = Config()): DataFrame = {
    val tau = cfg.jaccardThreshold
    require(tau > 0.0 && tau <= 1.0, s"threshold in (0,1]: $tau")
    val exactSurvivors = batch.join(
      corpus.select(md5(col(cfg.textCol).cast("binary")).as("__h")).distinct(),
      md5(col(cfg.textCol).cast("binary")) === col("__h"), "left_anti")
    // spread before the materialized sketch builds — the allPairs rationale
    def sk(df: DataFrame) = graft.io.Tables.spread(df)
      .select(col(cfg.idCol).as("__id"),
        array_sort(MinHashDedup.shingleIds(col(cfg.textCol), cfg.shingleSize))
          .as("__sids"))
      .withColumn("__n", size(col("__sids")))
      .filter(col("__n") > 0)
    val cs = sk(corpus).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bs = sk(exactSurvivors).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = cs.select(explode(col("__sids")).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__df"))
    val plen = (col("__n") - ceil(lit(tau) * col("__n") - lit(1e-9)) + 1)
      .cast("int")
    def prefixes(s: DataFrame) =
      s.select(col("__id"), col("__n"), explode(col("__sids")).as("__t"))
        .join(dfreq, Seq("__t"), "left")
        .withColumn("__df", coalesce(col("__df"), lit(0L)))
        .groupBy("__id", "__n")
        .agg(array_sort(collect_list(struct(col("__df"), col("__t")))).as("__ord"))
        .select(col("__id"), col("__n"),
          posexplode(slice(transform(col("__ord"), x => x.getField("__t")),
            lit(1), greatest(plen, lit(1)))).as(Seq("__p0", "__t")))
        .select(col("__id"), col("__n"), (col("__p0") + 1).as("__p"), col("__t"))
    val bp = prefixes(bs).select(col("__id").as("__b"), col("__n").as("__nb"),
      col("__p").as("__pb"), col("__t").as("__tb"))
    val cp = prefixes(cs).select(col("__id").as("__c"), col("__n").as("__nc"),
      col("__p").as("__pc"), col("__t").as("__tc"))
    // same PPJoin positional bound as allPairs (doc comment there); both
    // sides' positions come from the one corpus-df total order
    val alpha = ceil(lit(tau / (1.0 + tau)) *
      (col("__nb") + col("__nc")) - lit(1e-9))
    val cand = bp.join(cp,
        col("__tb") === col("__tc") &&
        col("__nb") * lit(tau) <= col("__nc").cast("double") + lit(1e-9) &&
        col("__nc") * lit(tau) <= col("__nb").cast("double") + lit(1e-9) &&
        lit(1) + least(col("__nb") - col("__pb"), col("__nc") - col("__pc"))
          >= alpha)
      .select(col("__b"), col("__c"))
      .dropDuplicates("__b", "__c")
    val inter = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.SortedLongInterCount(
        org.apache.spark.sql.graft.bridge.expression(col("__s1")),
        org.apache.spark.sql.graft.bridge.expression(col("__s2"))))
    val dupIds = cand
      .join(bs.select(col("__id").as("__b"), col("__sids").as("__s1"),
        col("__n").as("__n1")), "__b")
      .join(cs.select(col("__id").as("__c"), col("__sids").as("__s2"),
        col("__n").as("__n2")), "__c")
      .withColumn("__i", inter)
      .filter(col("__i") * lit(100.0) / (col("__n1") + col("__n2") - col("__i"))
        >= lit(tau * 100.0))
      .select(col("__b")).distinct()
    exactSurvivors.join(dupIds,
      exactSurvivors(cfg.idCol) === dupIds("__b"), "left_anti")
  }
}
