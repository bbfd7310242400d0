package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded-LSH near-duplicate detection over a text column — the
  * training-data-pipeline generalization of the reference's MinHash LSH
  * workflow (reference ExtractMinHashLSH.scala:104-115: 100 tables, 5-gram
  * shingles; CustomizedMinHashLSH.scala:33-43 permutation hashes).
  *
  * Signature computation is a per-row Column map (no fit job, no model
  * broadcast), and candidates come from a bucket shuffle. At 100 TB this
  * is: scan → narrow map (signatures) → one shuffle of each row per band on
  * (band, hash) → pairs streamed bucket by bucket, hot buckets split into
  * tiles ([[graft.lsh.BucketPairs]]) → verify. Candidate verification uses
  * exact token-set Jaccard, so false positives cost only the verify compute.
  *
  * Hash family: h_k(x) = (a_k·x + b_k) mod p over 31-bit-reduced xxhash64
  * shingle hashes, a/b derived from md5 (deterministic, no JVM RNG),
  * p = 2^31-1. The 31-bit domain keeps a·h + b < 2^62 so the expression can
  * never overflow Long under ANSI mode (same reason the reference's
  * permutation hash uses the 31-bit prime 2038074743,
  * CustomizedMinHashLSH.scala:33-43).
  */
object MinHashDedup {

  /** Signature hash modulus (Mersenne prime 2^31-1) — public so the
    * q_minhash_sig oracle replays the affine family with the same constant. */
  val P: Long = (1L << 31) - 1

  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 5,
      numHashes: Int = 64,
      bands: Int = 16,
      jaccardThreshold: Double = 0.8)

  /** Deterministic (a, b) coefficient pairs in [1, P-1] / [0, P-1]. */
  def coefficients(numHashes: Int): (Array[Long], Array[Long]) = {
    val a = Array.tabulate(numHashes)(k => 1 + graft.ann.SignLsh.md5Long(s"mh-a:$k") % (P - 1))
    val b = Array.tabulate(numHashes)(k => graft.ann.SignLsh.md5Long(s"mh-b:$k") % P)
    (a, b)
  }

  /** Distinct shingle hash values for a text column: xxhash64 of each w-token
    * shingle, reduced to [0, P) so downstream affine hashes cannot overflow.
    * First-occurrence order. One native pass per row
    * ([[graft.expressions.ShingleHashes]]): no lambda, so the shingles are
    * built once per row and shared with [[shingleIds]] in a projection. */
  def shingleHashes(text: Column, w: Int): Column = shingleKernel(text, w, Some(P))

  /** Distinct FULL-64-bit shingle ids — used for the exact-Jaccard verify
    * step, where the 31-bit signature domain would admit ~2^-31 per-pair
    * cross-collisions that perturb |∩|/|∪| (the signature path tolerates
    * those; the reported exact jac should not). Same kernel as
    * [[shingleHashes]] without the `pmod`. */
  def shingleIds(text: Column, w: Int): Column = shingleKernel(text, w, None)

  private def shingleKernel(text: Column, w: Int, p: Option[Long]): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.ShingleHashes(
        org.apache.spark.sql.graft.bridge.expression(
          TextOps.ngrams(TextOps.tokens(text), w)), p))

  /** MinHash signature (array<long> of length numHashes) from shingle hashes:
    * min over shingles of (a_k·h + b_k) mod p. Native single-pass codegen
    * expression ([[graft.expressions.MinHashSignature]]) — one loop updates
    * all k accumulators instead of k interpreted array passes. Empty shingle
    * sets get the natural sentinel of all P (no real hash reaches P because
    * the affine value is reduced mod P). */
  def signature(shingles: Column, numHashes: Int): Column = {
    val (as, bs) = coefficients(numHashes)
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.graft.bridge.expression(shingles),
        as.toSeq, bs.toSeq, P))
  }

  /** (band index, band hash) rows for banded LSH: signature split into
    * `bands` slices of `numHashes / bands` hashes (a remainder is unused),
    * each hashed to one bucket key with Spark's `xxhash64`. A native kernel
    * ([[graft.expressions.BandHashes]]), not a per-band lambda: CollapseProject
    * would inline the whole sketch chain into the lambda body, recomputing
    * every signature once per band. */
  def bandHashes(sig: Column, bands: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.BandHashes(
        org.apache.spark.sql.graft.bridge.expression(sig), bands, numHashes / bands))

  /** The reusable per-document dedup sketch: `(__id, __sids, __bands)` —
    * verify shingle-id sets plus banded signature bucket keys, no raw text.
    * This is the frame an incremental ingest pipeline computes ONCE per
    * corpus and keeps (written as a parquet table at real scale) so each
    * arriving batch sketches only itself and joins against the stored corpus
    * sketch ([[dedupAgainst]]). Only the band keys and the verify sets
    * survive — __shingles/__sig are dead once __bands is computed. */
  def sketch(df: DataFrame, cfg: Config = Config()): DataFrame =
    df.select(
      col(cfg.idCol).as("__id"),
      shingleHashes(col(cfg.textCol), cfg.shingleSize).as("__shingles"),
      shingleIds(col(cfg.textCol), cfg.shingleSize).as("__sids"))
      .withColumn("__sig", signature(col("__shingles"), cfg.numHashes))
      .withColumn("__bands", bandHashes(col("__sig"), cfg.bands, cfg.numHashes))
      .select(col("__id"), col("__sids"), col("__bands"))

  /** (__id, __band, __bh) bucket rows from a [[sketch]] frame — the equi-join
    * key table of the streaming (stream-static band join) incremental
    * dedup. */
  def bandBuckets(sk: DataFrame): DataFrame =
    sk.select(col("__id"), explode(col("__bands")).as("__b"))
      .select(col("__id"), col("__b.band").as("__band"), col("__b.bh").as("__bh"))

  /** (__id, band hashes in band order) of a [[sketch]] frame: the rows
    * [[graft.lsh.BucketPairs]] buckets, one slot per band. */
  private[graft] def bandSlots(sk: DataFrame): DataFrame =
    sk.select(col("__id"), col("__bands")("bh").as("__bhs"))

  /** Near-duplicate candidate pairs with exact-Jaccard verification over the
    * SAME shingle sets the signatures sketch — the quantity MinHash actually
    * estimates, so banding recall is measurable against an exact all-pairs
    * oracle (and a candidate that survives is a true shingle-level near-dup).
    * Returns (d1, d2, jac) with d1 < d2 and jac >= cfg.jaccardThreshold·100.
    *
    * Shuffle discipline (the 100 TB shape): the candidates are the pairs that
    * share a (band, band hash) bucket, found by [[graft.lsh.BucketPairs]]
    * from a shuffle of ID + band-hash rows; each document is signed once,
    * and the shingle arrays never enter the bucket shuffle. Shingle sets are
    * re-attached afterwards by two equi-joins, so the wide payload crosses
    * the wire only |candidates| times, not |bucket pairs|·|bands| times. */
  def nearDupPairs(df: DataFrame, cfg: Config = Config()): DataFrame = {
    val prepared = sketch(df, cfg)
    val cand = graft.lsh.BucketPairs.self(bandSlots(prepared))
      .select(col("pk1").as("d1"), col("pk2").as("d2"))

    val sets = prepared.select(col("__id"), col("__sids"))
    val withSets = cand
      .join(sets.select(col("__id").as("d1"), col("__sids").as("t1")), "d1")
      .join(sets.select(col("__id").as("d2"), col("__sids").as("t2")), "d2")

    // Threshold on the RAW ratio, round only for output — oracle-identical
    // boundary semantics (the kernel computes ((double)|∩|·100)/|∪| with
    // set semantics and 0.0 for empty∪empty, exactly the previous
    // size(array_intersect)/size(array_union) formulation, in ONE hash-set
    // pass inside codegen). The shingle-id arrays are array_distinct-ed at
    // construction, so the kernel is marked assumeDistinct and the
    // >= threshold filter triggers plans.JaccardPrefilter's header-only
    // size prune.
    val jacRaw = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.ArraySetJaccard(
        org.apache.spark.sql.graft.bridge.expression(col("t1")),
        org.apache.spark.sql.graft.bridge.expression(col("t2")),
        assumeDistinct = true))
    withSets
      .withColumn("__jac_raw", jacRaw)
      .filter(col("__jac_raw") >= cfg.jaccardThreshold * 100.0)
      .select(col("d1"), col("d2"), round(col("__jac_raw"), 4).as("jac"))
  }

  /** Exact-duplicate removal by content hash: keeps the smallest id per
    * distinct text (deterministic, unlike a bare dropDuplicates).
    *
    * min_by partial aggregation, not a window (r9): the window form
    * shuffled EVERY row to its content-hash partition and sorted each
    * group; min_by keeps one survivor row per hash per map partition, so
    * the exchange carries ~distinct-text rows — on dup-heavy input (the
    * whole point of dedup) that is the dup factor in shuffle savings.
    * Ties impossible (ids unique), so the pick is deterministic. */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(col(textCol).cast("binary")).as("__h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(col("__r.*"))
  }

  /** INCREMENTAL dedup: the rows of `batch` that duplicate nothing in
    * `corpus` — exactly (same text) or nearly (shingle Jaccard ≥ threshold).
    *
    * This is the shape a 100 TB ingest actually runs: the standing corpus is
    * never re-deduped against itself; each arriving batch is checked against
    * it. Two gates, cheap one first:
    *   1. exact-content: anti-join on md5(text) — only 16-byte hashes cross
    *      the wire, and it also catches sub-shingle-length exact dups whose
    *      empty shingle sets the Jaccard gate defines as jac = 0.
    *   2. near-dup: batch [[sketch]] bucketed against the corpus [[sketch]]
    *      on (band, bandhash) — the cross form of [[graft.lsh.BucketPairs]],
    *      NOT a corpus self-join — candidates verified by exact shingle-set
    *      Jaccard, matched batch ids anti-joined away.
    * The corpus side is accepted pre-sketched (pass `corpusSketch` built by
    * [[sketch]] and written once) so successive batches reuse it; the
    * convenience overload sketches a raw corpus frame per call.
    *
    * Returns surviving `batch` rows with their original columns. Batch and
    * corpus id spaces may overlap — candidate pairs are keyed (batch id,
    * corpus id), never compared for order. */
  def dedupAgainst(batch: DataFrame, corpusSketch: DataFrame,
                   corpusTextHashes: DataFrame, cfg: Config): DataFrame = {
    val exactSurvivors = batch.join(
        corpusTextHashes.select(col("__h")).distinct(),
        md5(col(cfg.textCol).cast("binary")) === col("__h"), "left_anti")

    val bs = sketch(exactSurvivors, cfg)
    val cand = graft.lsh.BucketPairs.cross(bandSlots(bs), bandSlots(corpusSketch))
      .select(col("left").as("bid"), col("right").as("cid"))

    val jacRaw = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.ArraySetJaccard(
        org.apache.spark.sql.graft.bridge.expression(col("t1")),
        org.apache.spark.sql.graft.bridge.expression(col("t2")),
        assumeDistinct = true))
    val dupIds = cand
      .join(bs.select(col("__id").as("bid"), col("__sids").as("t1")), "bid")
      .join(corpusSketch.select(col("__id").as("cid"), col("__sids").as("t2")), "cid")
      .filter(jacRaw >= cfg.jaccardThreshold * 100.0)
      .select(col("bid")).distinct()

    exactSurvivors.join(dupIds,
      exactSurvivors(cfg.idCol) === dupIds("bid"), "left_anti")
  }

  /** [[dedupAgainst]] with the corpus sketched in-call (single-batch use;
    * an ingest loop should build the corpus [[sketch]] + text-hash table
    * once and pass them in). */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame,
                   cfg: Config = Config()): DataFrame =
    dedupAgainst(batch, sketch(corpus, cfg),
      corpus.select(md5(col(cfg.textCol).cast("binary")).as("__h")), cfg)
}
