package graft.lsh

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, MinHashLSH, MinHashLSHModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

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
                      seed: Long = 12345L): DataFrame =
    // docs whose text reduces to nothing (all stopwords/digits) are empty
    // SETS — no near-dup semantics. The estimator's coefficients need no fit.
    selfJoinOnVectors(df.filter(nnz(col(featuresCol)) > 0), idCol, featuresCol,
      mlCoefficients(numTables, seed), threshold)

  /** The fitted model's private (a, b) hash coefficients, read by reflection
    * (the LshJoinsSpec pin's recipe): using the model's OWN coefficients —
    * rather than replaying the seed derivation — keeps [[MinHashIndex]]
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
    * upgrade that changes it fails `sbt test` loudly. Lets [[minHashSelfJoin]],
    * [[minHashSelfJoinSets]] and [[minHashKnn]] bucket identically to the
    * estimator without fitting a model at all (the fit is data-independent
    * apart from an input-dimension lookup). */
  private[graft] def mlCoefficients(numTables: Int, seed: Long): Array[(Int, Int)] = {
    val r = new scala.util.Random(seed)
    Array.fill(numTables)(
      (1 + r.nextInt((MlHashPrime - 1).toInt), r.nextInt((MlHashPrime - 1).toInt)))
  }

  /** The ML family's signature of a sorted index-set column. a·i + (a + b)
    * == (1 + i)·a + b: the +1 folds into the offset, so the generic
    * signature kernel evaluates the family unchanged. */
  private def mlSignature(idx: org.apache.spark.sql.Column,
                          coefs: Array[(Int, Int)]): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.bridge.column(graft.expressions.MinHashSignature(
      org.apache.spark.sql.graft.bridge.expression(idx), coefs.map(_._1.toLong).toSeq,
      coefs.map(c => c._1.toLong + c._2.toLong).toSeq, MlHashPrime))

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

  /** The join body shared by the inline path and the persisted-index
    * path. Same output as the stock `approxSimilarityJoin` (candidates =
    * pairs sharing ≥1 of the model's (table, minhash) buckets; exact
    * keyDistance verify `< threshold`; asymmetric distance recomputed) but
    * on the banded shape the dedup module proved at scale
    * (MinHashDedup.nearDupPairs): the estimator's own join explodes every
    * bucket-sharing pair WITH both sparse vectors attached and evaluates an
    * interpreted keyDistance UDF per candidate — measured 195 s at 1× and
    * OOM at 10× on a 16 GiB heap, vs 2.78 s for the banded shape on the
    * same corpus (r8). Here the bucket pass ([[BucketPairs]]) carries ID +
    * signature ONLY; the verify payloads are re-attached by two equi-joins
    * for the |candidates| survivors, so the wide payload never rides the
    * bucket shuffle.
    *
    * The map side is codegen: [[graft.expressions.VectorNzIndices]] plus the
    * [[graft.expressions.MinHashSignature]] kernel evaluating the model's
    * coefficients: sig_k = min over nonzero indices i of
    * (a_k·i + (a_k + b_k)) mod P, which is term-for-term ((1 + i)·a_k + b_k)
    * mod P — the estimator's exact integer arithmetic (no overflow:
    * a_k·i < 2^41). Bucket keys are the exact LONG values instead of their
    * Double images (same equalities, narrower shuffle). Nothing is
    * persisted: the signatures are computed once, in the bucket pass. */
  private def selfJoinOnVectors(nonEmpty: DataFrame, idCol: String, featuresCol: String,
                                coefs: Array[(Int, Int)], threshold: Double): DataFrame = {
    // The verify payload is the SORTED NONZERO-INDEX SET (array<long>), not
    // the feature vector: every reported distance — Jaccard AND the
    // reference's left/right asymmetric kernels — is a function of
    // (|∩|, |x|, |y|) alone, so the double-valued vector never leaves the
    // map stage.
    val nzIdx = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.VectorNzIndices(
        org.apache.spark.sql.graft.bridge.expression(col(featuresCol))))
    selfJoinOnSets(nonEmpty.select(col(idCol), nzIdx.as("__idx")),
      idCol, coefs, threshold)
  }

  /** The shared banded-join body over (idCol, __idx sorted array<long>). */
  private def selfJoinOnSets(sets: DataFrame, idCol: String,
                             coefs: Array[(Int, Int)],
                             threshold: Double): DataFrame = {
    // The verify join's null-intolerant intersection makes Catalyst infer
    // isnotnull(__idx) on the attrs side; stating it for both sides keeps
    // their source plans equal, so they share one exchange and the
    // caller's featurization runs once.
    val known = sets.filter(col("__idx").isNotNull)
    // one slot per table: a pair comes out once, in its first shared table
    val cand = BucketPairs.self(known.select(col(idCol), mlSignature(col("__idx"), coefs)))
    val attrs = known.select(col(idCol), size(col("__idx")).as("__n"), col("__idx"))
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
      selfJoinOnVectors(df.filter(nnz(col(featuresCol)) > 0),
        idCol, featuresCol, modelCoefficients(model), threshold)
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
    * Both phases come from one scan and one bounded top-2k; the k rows come
    * back as a local frame, and nothing stays cached. Phase 2 is the same
    * full-scan degrade the reference accepts when buckets run dry.
    *
    * `exhaustive = true` is the EXACT limit: skip both pruning phases and
    * score every row — the full-scan degrade made unconditional. Same
    * distance kernel, sort and tie-break as the approximate path, so it is
    * both the brute-force Jaccard-kNN baseline and the oracle-checkable twin
    * of the two-phase search (the role q_dimsum_exact plays for DIMSUM). */
  def minHashKnn(df: DataFrame, idCol: String, featuresCol: String,
                 probe: Vector, k: Int, numTables: Int = 16,
                 seed: Long = 12345L, exhaustive: Boolean = false): DataFrame = {
    // The map side is codegen and fits no model: nonzero indices, the
    // signature over [[mlCoefficients]], bucket membership against the
    // probe's driver-computed signature and the exact Jaccard verify. The
    // probe signature is min over nonzero i of ((1+i)·a + b) mod P, the
    // estimator's own hashFunction; the distance is 1 − |∩|/|∪| in double.
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
    val coefs = mlCoefficients(numTables, seed)
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
    // One job and nothing cached. Every row is ranked once among all rows
    // (__g = 1) and, when it shares a bucket, once more among the bucket
    // (__g = 0). The first 2k by (__g, distance, id) hold the bucket's k
    // nearest when it has k rows, else its m < k rows and the k nearest of
    // all rows. Hash distances are 0 in the bucket and 1 outside it, so
    // phase 2's widening (keep every row at or under the k-th smallest hash
    // distance) keeps every row. An outer explode: an inner one makes
    // Catalyst infer a size filter that evaluates the signature again.
    val ranked = sets.select(col(idCol), col("__idx"))
      .withColumn("__sig", mlSignature(col("__idx"), coefs))
      .select(col(idCol), distCol(col("__idx")).as("jaccard_dist"),
        explode_outer(when(anySlotEq, array(lit(0), lit(1))).otherwise(array(lit(1))))
          .as("__g"))
      .sort(col("__g"), col("jaccard_dist"), col(idCol))
      .limit(2 * k)
      .collect()
    val (inBucket, all) = ranked.partition(_.getInt(2) == 0)
    val rows = (if (inBucket.length >= k) inBucket else all).take(k)
      .map(r => Row(r.get(0), r.get(1)))
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType), StructField("jaccard_dist", DoubleType))))
  }
}
