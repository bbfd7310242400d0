package graft.lsh

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, MinHashLSH, MinHashLSHModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-similarity self-joins on stock Spark ML LSH estimators
  * (SURVEY M11/M12/J3).
  *
  * The reference forked Spark's MinHashLSH to change keyDistance to the
  * asymmetric-Jaccard form min(1−|∩|/|x|, 1−|∩|/|y|)
  * (reference CustomizedMinHashLSH.scala:46-58) and then drove 1225 per-state-
  * pair driver jobs (ExtractMinHashLSH.scala:114-115). Here:
  *  - the stock estimator generates candidates (bucket recall does not depend
  *    on which distance is reported);
  *  - the asymmetric distance is recomputed post-join as a column — no engine
  *    fork, same results;
  *  - ONE join over the whole corpus replaces the driver-side state-pair loop;
  *    cross-group constraints are plain join predicates.
  */
object LshJoins {

  /** Nonzero-entry count — MinHashLSH requires >= 1 per vector. */
  private val nnz = udf((v: Vector) => v.numNonzeros)

  /** MinHash LSH self-join. Input must carry a binary-ish sparse Vector column
    * (nonzero entries = set members). Returns (pk1, pk2, jaccard_dist,
    * asym_jaccard_dist) with pk1 < pk2, jaccard_dist < threshold.
    * Config parity with the reference: numTables=100, seed=12345
    * (ExtractMinHashLSH.scala:108-111) — defaults lowered for test scale. */
  def minHashSelfJoin(df: DataFrame, idCol: String, featuresCol: String,
                      threshold: Double, numTables: Int = 16,
                      seed: Long = 12345L): DataFrame = {
    // docs whose text reduces to nothing (all stopwords/digits) are empty
    // SETS — no near-dup semantics — and would otherwise kill the whole job
    val nonEmpty = df.filter(nnz(col(featuresCol)) > 0)
    val model = new MinHashLSH()
      .setInputCol(featuresCol).setOutputCol("__hashes")
      .setNumHashTables(numTables).setSeed(seed)
      .fit(nonEmpty)
    selfJoinWithModel(model, nonEmpty, idCol, featuresCol, threshold)
  }

  /** The fitted model's private (a, b) hash coefficients, read by reflection
    * (the LshJoinsSpec pin's recipe): using the model's OWN coefficients —
    * rather than replaying the seed derivation — keeps [[selfJoinWithModel]]
    * exact for any model, including one loaded from disk that was fitted by
    * a different Spark build. */
  private def modelCoefficients(model: MinHashLSHModel): Array[(Int, Int)] = {
    val f = model.getClass.getDeclaredFields
      .find(_.getName.contains("randCoefficients"))
      .getOrElse(sys.error(
        "MinHashLSHModel no longer carries randCoefficients — " +
          "rework LshJoins.modelCoefficients"))
    f.setAccessible(true)
    f.get(model).asInstanceOf[Array[(Int, Int)]]
  }

  /** Spark ML MinHashLSH's hash prime (MinHashLSH.HASH_PRIME). */
  private val MlHashPrime = 2038074743L

  /** The estimator's documented coefficient derivation (MinHashLSH.fit:
    * `new Random(seed)`, then per table `(1 + nextInt(P−1), nextInt(P−1))`)
    * — reflection-pinned against a fitted model in LshJoinsSpec, so a Spark
    * upgrade that changes it fails `sbt test` loudly. Lets the set-based
    * join path ([[minHashSelfJoinSets]]) bucket identically to the
    * estimator without fitting a model at all (the fit is data-independent
    * apart from an input-dimension lookup). */
  private[graft] def mlCoefficients(numTables: Int, seed: Long): Array[(Int, Int)] = {
    val r = new scala.util.Random(seed)
    Array.fill(numTables)(
      (1 + r.nextInt((MlHashPrime - 1).toInt), r.nextInt((MlHashPrime - 1).toInt)))
  }

  /** MinHash LSH self-join over a PRE-TOKENIZED sorted nonzero-index set
    * column (array<long>, ascending — e.g.
    * [[graft.expressions.CleanTokenBuckets]] output). Identical candidates,
    * distances and output to [[minHashSelfJoin]] over the binary-TF vector
    * of the same set (same hash family via [[mlCoefficients]]); skips the
    * ML vector entirely — the 100 TB ingest shape for set similarity.
    *
    * ELEMENT DOMAIN (ADVICE r13): set elements must be SMALL indices
    * (< 2^31 — e.g. CleanTokenBuckets / VectorNzIndices output, whose
    * values are feature positions). The ML-family affine hash
    * a·i + (a + b) overflows Long around element values ≥ ~2^22·P, so
    * feeding full-width xxhash64 shingle ids (the repo's OTHER set
    * representation — use [[graft.dedup.MinHashDedup]] for those, whose
    * family reduces ids mod P first) would silently produce out-of-family
    * signatures; the exact verify masks that as pure recall loss. */
  def minHashSelfJoinSets(df: DataFrame, idCol: String, setCol: String,
                          threshold: Double, numTables: Int = 16,
                          seed: Long = 12345L): DataFrame =
    selfJoinOnSets(
      df.filter(size(col(setCol)) > 0)
        .select(col(idCol), col(setCol).as("__idx")),
      idCol, mlCoefficients(numTables, seed), threshold)

  /** The join body shared by the fit-inline path and the persisted-index
    * path. Same output as the stock `approxSimilarityJoin` (candidates =
    * pairs sharing ≥1 of the model's (table, minhash) buckets; exact
    * keyDistance verify `< threshold`; asymmetric distance recomputed) but
    * on the banded-join physical shape the dedup module proved at scale
    * (MinHashDedup.nearDupPairs): the estimator's own join explodes every
    * bucket-sharing pair WITH both sparse vectors attached and evaluates an
    * interpreted keyDistance UDF per candidate — measured 195 s at 1× and
    * OOM at 10× on a 16 GiB heap, vs 2.78 s for the banded shape on the
    * same corpus (r8). Here the bucket self-join carries ID +
    * (table, hash) ONLY; the verify payloads are re-attached by two
    * equi-joins for the |candidates| survivors, so the wide payload never
    * rides the bucket shuffle.
    *
    * r13 (optimization round, guide §2.3/§2.4/§4.1): the corpus-scale map
    * side is now fully codegen — the model's `transform` (a per-row Scala
    * UDF allocating 16 one-element DenseVectors per row) and the nonzero-
    * index UDF are replaced by [[graft.expressions.VectorNzIndices]] plus
    * the existing [[graft.expressions.MinHashSignature]] kernel evaluating
    * the model's OWN reflection-read coefficients: sig_k = min over nonzero
    * indices i of (a_k·i + (a_k + b_k)) mod P, which is term-for-term
    * ((1 + i)·a_k + b_k) mod P — the estimator's exact integer arithmetic
    * (no overflow: a_k·i < 2^41). Bucket keys join as the exact LONG values
    * instead of their Double images (same equalities, narrower shuffle).
    * The former four re-attach joins (sizes ×2, then index arrays ×2) are
    * consolidated into two — (n, idx) attach together — which removes two
    * exchanges/broadcast jobs per run; the size-ratio prefilter survives as
    * a scalar Filter before the merge-count (for sets J ≤ min/max, so the
    * ratio alone can prove dist ≥ threshold; the 1e-9 slack over-KEEPS
    * near-boundary pairs — they are re-judged by the exact verify — never
    * over-drops). The heavy bytes are unchanged: the attrs-side shuffle
    * carried the index arrays before and after; only the separate
    * two-int sizes shuffle disappears. Output bit-identical (q_minhash_lsh
    * DuckDB hash gate re-proven in-round).
    *
    * Cache lifecycle (caller-owned, the MinHashDedup/PrefixJoin convention):
    * the hashed frame below persists at MEMORY_AND_DISK because three plan
    * branches reuse it, and the returned (lazy) DataFrame still references
    * it — so this method cannot unpersist before the caller materializes.
    * Long-lived sessions issuing many LSH joins should
    * `spark.catalog.clearCache()` after consuming each result; blocks are
    * spill-safe, so the leak costs storage memory, never correctness. */
  private def selfJoinWithModel(model: MinHashLSHModel, nonEmpty: DataFrame,
                                idCol: String, featuresCol: String,
                                threshold: Double): DataFrame = {
    // The verify payload is the SORTED NONZERO-INDEX SET (array<long>), not
    // the feature vector: every reported distance — Jaccard AND the
    // reference's left/right asymmetric kernels — is a function of
    // (|∩|, |x|, |y|) alone, so the double-valued vector never leaves the
    // map stage.
    val nzIdx = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.VectorNzIndices(
        org.apache.spark.sql.graft.bridge.expression(col(featuresCol))))
    selfJoinOnSets(nonEmpty.select(col(idCol), nzIdx.as("__idx")),
      idCol, modelCoefficients(model), threshold)
  }

  /** The shared banded-join body over (idCol, __idx sorted array<long>). */
  private def selfJoinOnSets(sets: DataFrame, idCol: String,
                             coefs: Array[(Int, Int)],
                             threshold: Double): DataFrame = {
    val as = coefs.map(_._1.toLong).toSeq
    // a·i + (a + b) == (1 + i)·a + b — fold the +1 into the offset so the
    // generic signature kernel evaluates the ML family unchanged
    val bs = coefs.map(c => c._1.toLong + c._2.toLong).toSeq
    val sig = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.graft.bridge.expression(col("__idx")),
        as, bs, MlHashPrime))
    // persisted: reused by both bucket-join sides and the attrs rejoins
    // (same rationale as MinHashDedup.nearDupPairs; bounded: id +
    // numTables longs + nnz longs — no vectors)
    val hashed = sets
      .withColumn("__n", size(col("__idx")))
      .withColumn("__sig", sig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r14 (guide §2.4 — remove shuffles outright): candidate DEDUP is a
    // scalar predicate, not an exchange. A pair sharing k > 1 of the
    // numTables (table, minhash) buckets used to emerge k times from the
    // bucket join and pay a dropDuplicates shuffle over the full candidate
    // multiset (the one exchange the pair stream crossed — candidates ≫
    // corpus on any near-dup-rich input). Carrying each side's signature
    // array through the explode (numTables longs per bucket row — corpus-
    // side, bounded) lets the join keep a pair ONLY in its first matching
    // table: graft_first_eq_slot(sig_a, sig_b) == __t. Exactly one survivor
    // per candidate pair, identical pair set, zero pair-stream exchanges.
    // The size-ratio prebound (J ≤ min/max ⇒ dist ≥ 1 − min/max) also moves
    // INTO the join filter, so hopeless pairs die before the attrs attach.
    val buckets = hashed
      .select(col(idCol).as("__bid"), col("__n"), col("__sig"),
        posexplode(col("__sig")).as(Seq("__t", "__h")))
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    val firstEq = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.FirstEqSlot(
        org.apache.spark.sql.graft.bridge.expression(col("a.__sig")),
        org.apache.spark.sql.graft.bridge.expression(col("b.__sig"))))
    val cand = a.join(b,
        col("a.__t") === col("b.__t") && col("a.__h") === col("b.__h") &&
        col("a.__bid") < col("b.__bid") &&
        lit(1.0) - least(col("a.__n"), col("b.__n")).cast("double")
          / greatest(col("a.__n"), col("b.__n")) < threshold + 1e-9)
      .filter(firstEq === col("a.__t"))
      .select(col("a.__bid").as("pk1"), col("b.__bid").as("pk2"))
    val attrs = hashed.select(col(idCol), col("__n"), col("__idx"))
    val inter = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.SortedLongInterCount(
        org.apache.spark.sql.graft.bridge.expression(col("__i1")),
        org.apache.spark.sql.graft.bridge.expression(col("__i2"))))
    // identical float arithmetic to Kernels.leftJaccard/rightJaccard + the
    // previous asym lambda: (|∩|.toFloat / n) * 100f, max, / 100.0
    val asym = udf { (inter: Long, n1: Int, n2: Int) =>
      1.0 - math.max(inter.toFloat / n1 * 100.0f,
                     inter.toFloat / n2 * 100.0f) / 100.0
    }
    cand
      .join(attrs.select(col(idCol).as("pk1"), col("__n").as("__n1"),
        col("__idx").as("__i1")), "pk1")
      .join(attrs.select(col(idCol).as("pk2"), col("__n").as("__n2"),
        col("__idx").as("__i2")), "pk2")
      .withColumn("__inter", inter)
      // 1 − |∩|/|∪| with long/long → double division: bit-identical to the
      // previous jaccardDistance UDF's inter.toDouble / union
      .withColumn("jaccard_dist",
        lit(1.0) - col("__inter") / (col("__n1") + col("__n2") - col("__inter")))
      .filter(col("jaccard_dist") < threshold)
      .select(col("pk1"), col("pk2"), col("jaccard_dist"),
        asym(col("__inter"), col("__n1"), col("__n2")).as("asym_jaccard_dist"))
  }

  /** Persistable workflow-2 index: the fitted MinHashLSH model plus the join
    * config. The reference serialized its forked model's hash coefficients
    * and params through a custom writer (CustomizedMinHashLSH.scala:154-183);
    * here the model is the STOCK estimator — Spark ML persistence covers the
    * coefficients — and the engine-side config (the candidate threshold the
    * asym recompute runs at) rides a sidecar JSON in the same directory, so
    * one path round-trips the whole index between runs. */
  final case class MinHashIndex(model: MinHashLSHModel, threshold: Double) {
    /** Approx self-join using the PERSISTED hash functions — identical
      * output to [[minHashSelfJoin]] fit with the same params. */
    def selfJoin(df: DataFrame, idCol: String, featuresCol: String): DataFrame =
      selfJoinWithModel(model, df.filter(nnz(col(featuresCol)) > 0),
        idCol, featuresCol, threshold)
  }

  def fitMinHashIndex(df: DataFrame, featuresCol: String, threshold: Double,
                      numTables: Int = 16, seed: Long = 12345L): MinHashIndex = {
    val nonEmpty = df.filter(nnz(col(featuresCol)) > 0)
    val model = new MinHashLSH()
      .setInputCol(featuresCol).setOutputCol("__hashes")
      .setNumHashTables(numTables).setSeed(seed)
      .fit(nonEmpty)
    MinHashIndex(model, threshold)
  }

  /** Hadoop-FS paths (local, HDFS, object stores) — same reach as Spark ML's
    * own writers, so the sidecar lands next to the model on any cluster. */
  def saveMinHashIndex(index: MinHashIndex, path: String): Unit = {
    index.model.write.overwrite().save(s"$path/model")
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$path/config.json")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(s"""{"threshold":${index.threshold}}""".getBytes("UTF-8"))
    finally out.close()
  }

  def loadMinHashIndex(spark: SparkSession, path: String): MinHashIndex = {
    val model = MinHashLSHModel.load(s"$path/model")
    val p = new org.apache.hadoop.fs.Path(s"$path/config.json")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    val thr = """"threshold"\s*:\s*([0-9.Ee+\-]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble)
      .getOrElse(sys.error(s"no threshold in $path/config.json"))
    MinHashIndex(model, thr)
  }

  /** Bucketed random-projection (Euclidean) LSH self-join (reference
    * BucketedRandomProjectionLSHExample.scala:106-112: bucketLength 2.0,
    * 3 tables). Returns (pk1, pk2, dist) with pk1 < pk2, dist < threshold. */
  def brpSelfJoin(df: DataFrame, idCol: String, featuresCol: String,
                  threshold: Double, bucketLength: Double = 2.0,
                  numTables: Int = 3, seed: Long = 12345L): DataFrame = {
    val model = new BucketedRandomProjectionLSH()
      .setInputCol(featuresCol).setOutputCol("__hashes")
      .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
      .fit(df)
    model.approxSimilarityJoin(df, df, threshold, "dist")
      .filter(col(s"datasetA.$idCol") < col(s"datasetB.$idCol"))
      .select(
        col(s"datasetA.$idCol").as("pk1"),
        col(s"datasetB.$idCol").as("pk2"),
        col("dist"))
  }

  /** Exact Jaccard distance over nonzero index sets — the MinHash keyDistance
    * (1 − |∩|/|∪|), computed by sorted merge without per-row Set allocation.
    * Double (not the Float percent kernels) so reported distances match the
    * estimator's own bit-for-bit. */
  private[lsh] def jaccardDistance(x: Vector, y: Vector): Double = {
    def nz(v: Vector): Array[Int] = {
      val b = Array.newBuilder[Int]
      v.foreachActive((i, value) => if (value != 0.0) b += i)
      b.result() // foreachActive visits ascending indices for both layouts
    }
    val xi = nz(x); val yi = nz(y)
    var i = 0; var j = 0; var inter = 0
    while (i < xi.length && j < yi.length) {
      if (xi(i) == yi(j)) { inter += 1; i += 1; j += 1 }
      else if (xi(i) < yi(j)) i += 1
      else j += 1
    }
    val union = xi.length + yi.length - inter
    if (union == 0) 1.0 else 1.0 - inter.toDouble / union
  }

  /** Approx k-NN for one probe vector — the reference's TWO-PHASE search
    * (CustomizedLSH.scala:92-137):
    *  - phase 1 (single probe): rows sharing ≥1 hash bucket with the probe;
    *  - phase 2 (only if the bucket holds < k rows): widen by hash distance —
    *    sort all rows by min-over-tables differing-slot count to the probe's
    *    hashes, take the k-th value as a threshold, keep rows at or under it
    *    (reference lines 119-131: sort+limit → max → filter) — so a
    *    sparse-bucket probe still returns k rows instead of starving.
    * Either subset then gets exact-Jaccard top-k (true-distance sort+limit).
    * Scale note: phase 1 is a hash-pruned scan; phase 2 scans hash signatures
    * only (numTables ints/row, not the feature vectors) — the same full-scan
    * degrade the reference accepts when buckets run dry.
    *
    * `exhaustive = true` is the EXACT limit: skip both pruning phases and
    * score every row — the full-scan degrade made unconditional. Same
    * distance kernel, sort and tie-break as the approximate path, so it is
    * both the brute-force Jaccard-kNN baseline and the oracle-checkable twin
    * of the two-phase search (the role q_dimsum_exact plays for DIMSUM). */
  def minHashKnn(df: DataFrame, idCol: String, featuresCol: String,
                 probe: Vector, k: Int, numTables: Int = 16,
                 seed: Long = 12345L, exhaustive: Boolean = false): DataFrame = {
    // r13 (guide §4.1): the corpus-scale map side is codegen — nonzero-index
    // extraction (VectorNzIndices), signatures (MinHashSignature over the
    // fitted model's reflection-read coefficients), bucket membership
    // (element-wise long comparisons against the probe's driver-computed
    // signature) and the exact Jaccard verify (SortedLongInterCount against
    // the probe's literal index set) replace four per-row boxed
    // Vector/Seq[Vector] UDFs. Arithmetic identical term-for-term: the
    // probe signature is min over nonzero i of ((1+i)·a + b) mod P — the
    // estimator's own hashFunction — and the distance is 1 − |∩|/|∪| with
    // the same double division; outputs unchanged (KnnSpec + oracle gates).
    val nzIdx = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.VectorNzIndices(
        org.apache.spark.sql.graft.bridge.expression(col(featuresCol))))
    // an empty-set probe has no neighbors under Jaccard — and would trip
    // MinHashLSH's nonzero requirement
    if (probe.numNonzeros == 0)
      return df.filter(lit(false))
        .select(col(idCol), lit(null).cast("double").as("jaccard_dist"))
    val probeNz: Array[Long] = {
      val b = Array.newBuilder[Long]
      probe.foreachActive((i, v) => if (v != 0.0) b += i.toLong)
      b.result()
    }
    // exact Jaccard distance to the probe from the sorted nonzero-index set:
    // 1 − |∩|/|∪|, double division — jaccardDistance's arithmetic exactly
    // (union == 0 is unreachable here: the probe set is nonempty)
    def distCol(idxCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val inter = org.apache.spark.sql.graft.bridge.column(
        graft.expressions.SortedLongInterCount(
          org.apache.spark.sql.graft.bridge.expression(idxCol),
          org.apache.spark.sql.graft.bridge.expression(
            typedLit(probeNz.toSeq))))
      lit(1.0) - inter.cast("double") /
        (size(idxCol) + lit(probeNz.length) - inter).cast("double")
    }
    val sets = df.select(col(idCol), col(featuresCol), nzIdx.as("__idx"))
      .filter(size(col("__idx")) > 0)
    if (exhaustive) {
      return sets.withColumn("jaccard_dist", distCol(col("__idx")))
        .sort(col("jaccard_dist"), col(idCol))
        .limit(k)
        .select(col(idCol), col("jaccard_dist"))
    }
    val model = new MinHashLSH()
      .setInputCol(featuresCol).setOutputCol("__hashes")
      .setNumHashTables(numTables).setSeed(seed)
      .fit(sets)
    val coefs = modelCoefficients(model)
    val sig = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.graft.bridge.expression(col("__idx")),
        coefs.map(_._1.toLong).toSeq,
        coefs.map(c => c._1.toLong + c._2.toLong).toSeq, MlHashPrime))
    // persisted: the phase-1 cardinality probe, the (rare) phase-2 widening
    // and the final verify are SEPARATE actions that would each replay the
    // caller's featurization lineage otherwise; bounded — id + index set +
    // numTables longs, no vectors (the selfJoinWithModel cache convention:
    // caller-owned, clearCache() after consuming on long-lived sessions)
    val hashed = sets.select(col(idCol), col("__idx")).withColumn("__sig", sig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the probe's signature, computed on the driver with the same integer
    // arithmetic (replaces a one-row transform job)
    val keyHash: Array[Long] = coefs.map { case (a, b) =>
      probeNz.map(i => ((1L + i) * a + b) % MlHashPrime).min
    }
    // per-table hash vectors are length 1 here, so Spark's hashDistance
    // (min over tables of differing-slot count) is 0 iff ANY slot matches,
    // else 1 — sameBucket and the phase-2 distance share one comparison
    val anySlotEq = keyHash.zipWithIndex
      .map { case (h, i) => element_at(col("__sig"), i + 1) === lit(h) }
      .reduce(_ || _)
    val bucket = hashed.filter(anySlotEq)
    // count(), not limit(k).count(): the limit form executes as an
    // incremental single-partition take that runs the whole upstream
    // serially on one core when the bucket is selective (profiled 10.5 s
    // single-task at sf0.1); a full parallel count over the cached frame is
    // the same boolean at a fraction of the wall
    val subset =
      if (bucket.count() >= k) bucket
      else {
        val hd = hashed.withColumn("__hd",
          when(anySlotEq, lit(0.0)).otherwise(lit(1.0)))
        val thr = hd.sort("__hd").limit(k).agg(max("__hd")).head.getDouble(0)
        hd.filter(col("__hd") <= thr).drop("__hd")
      }
    subset.withColumn("jaccard_dist", distCol(col("__idx")))
      .sort(col("jaccard_dist"), col(idCol))
      .limit(k)
      .select(col(idCol), col("jaccard_dist"))
  }
}
