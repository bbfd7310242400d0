package graft.lsh

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vectors

/** Stock-estimator LSH self-joins with asym-Jaccard recompute (SURVEY M11/M12/J3). */
class LshJoinsSpec extends SparkSpec {
  import spark.implicits._

  // binary "set membership" vectors: docs 1,2 share 4 of 5 items; 3 disjoint
  private lazy val sets = Seq(
    (1L, Vectors.sparse(32, Array(0, 1, 2, 3, 4), Array.fill(5)(1.0))),
    (2L, Vectors.sparse(32, Array(0, 1, 2, 3, 9), Array.fill(5)(1.0))),
    (3L, Vectors.sparse(32, Array(20, 21, 22, 23), Array.fill(4)(1.0)))
  ).toDF("id", "features")

  test("minHashSelfJoin finds the overlapping pair with both distances") {
    val got = LshJoins.minHashSelfJoin(sets, "id", "features", threshold = 0.8)
      .select("pk1", "pk2", "jaccard_dist", "asym_jaccard_dist")
      .as[(Long, Long, Double, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    val r12 = got.find(r => r._1 == 1L && r._2 == 2L).get
    // |∩|=4 |∪|=6 → jaccard_dist = 1/3; asym: max(4/5,4/5)=0.8 → 0.2
    assert(math.abs(r12._3 - 1.0 / 3) < 1e-9)
    assert(math.abs(r12._4 - 0.2) < 1e-9)
  }

  test("kernel minhash signatures equal the stock model.transform hashes bit-for-bit") {
    // r13: selfJoinWithModel computes bucket keys with the MinHashSignature
    // kernel over VectorNzIndices instead of the estimator's per-row UDF —
    // sig_k = (a_k·i + (a_k + b_k)) mod P must equal the model's own
    // ((1+i)·a_k + b_k) mod P hash values (as Double images) on every row,
    // including dense layouts and vectors with explicit zeros.
    val mixed = Seq(
      (1L, Vectors.sparse(32, Array(0, 1, 2, 3, 4), Array.fill(5)(1.0))),
      (2L, Vectors.sparse(32, Array(0, 5, 9), Array(2.0, 0.0, 3.0))), // explicit zero
      (3L, Vectors.dense(Array.tabulate(32)(i => if (i % 7 == 0) 1.0 else 0.0))),
      (4L, Vectors.sparse(32, Array(31), Array(4.0)))
    ).toDF("id", "features")
    val model = new org.apache.spark.ml.feature.MinHashLSH()
      .setInputCol("features").setOutputCol("__hashes")
      .setNumHashTables(16).setSeed(98765L)
      .fit(mixed)
    val f = model.getClass.getDeclaredFields
      .find(_.getName.contains("randCoefficients")).get
    f.setAccessible(true)
    val coefs = f.get(model).asInstanceOf[Array[(Int, Int)]]
    import org.apache.spark.sql.functions._
    val nz = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.VectorNzIndices(
        org.apache.spark.sql.graft.bridge.expression(col("features"))))
    val sig = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.graft.bridge.expression(col("__idx")),
        coefs.map(_._1.toLong).toSeq,
        coefs.map(c => c._1.toLong + c._2.toLong).toSeq, 2038074743L))
    val kernel = mixed.withColumn("__idx", nz).withColumn("__sig", sig)
      .select(col("id"), col("__sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val stock = model.transform(mixed)
      .select(col("id"), col("__hashes"))
      .as[(Long, Seq[org.apache.spark.ml.linalg.Vector])].collect().toMap
    assert(kernel.keySet == stock.keySet)
    for ((id, hs) <- stock)
      assert(kernel(id).map(_.toDouble) == hs.map(_(0)),
        s"signature mismatch for id $id")
  }

  test("q_minhash_lsh oracle coefficients reproduce the fitted model's (reflection pin)") {
    // The q_minhash_lsh DuckDB oracle derives the model's 16 (a, b) hash
    // coefficients from the estimator's documented derivation
    // (new Random(seed); (1 + nextInt(P-1), nextInt(P-1)), P = 2038074743).
    // Pin that reproduction against the ACTUAL fitted model's private
    // coefficients so a Spark upgrade that changes the derivation fails here
    // loudly instead of silently reddening the oracle gate.
    val model = new org.apache.spark.ml.feature.MinHashLSH()
      .setInputCol("features").setOutputCol("__h")
      .setNumHashTables(16).setSeed(12345L)
      .fit(sets)
    val f = model.getClass.getDeclaredFields
      .find(_.getName.contains("randCoefficients"))
      .getOrElse(fail("MinHashLSHModel no longer has randCoefficients — " +
        "re-derive the q_minhash_lsh oracle coefficient table"))
    f.setAccessible(true)
    val fitted = f.get(model).asInstanceOf[Array[(Int, Int)]].toSeq
    val r = new scala.util.Random(12345L)
    val repro = Seq.fill(16)((1 + r.nextInt(2038074743 - 1), r.nextInt(2038074743 - 1)))
    assert(fitted == repro,
      "seed-derivation drift: update MlQueries.mlMinhashCoefSqlValues")
  }

  test("q_brp_lsh oracle unit vectors equal the fitted model's (reflection pin)") {
    // The q_brp_lsh oracle's projection directions are GOLDEN CONSTANTS
    // extracted from the fitted model (an RNG replay of the seed derivation
    // differs in the last ulp of the normalization at dim 64, so extraction
    // is pinned instead). Compare the real model's vectors to the literals
    // bit-for-bit so an estimator/seed-derivation change fails loudly here
    // instead of silently reddening the oracle gate.
    val dim = 64
    val df = Seq(Tuple1(Vectors.dense(Array.fill(dim)(1.0)))).toDF("features")
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("__h")
      .setBucketLength(0.5).setNumHashTables(3).setSeed(12345L)
      .fit(df)
    val m = model.getClass.getDeclaredMethods
      .find(_.getName == "randUnitVectors")
      .getOrElse(fail("BucketedRandomProjectionLSHModel no longer exposes " +
        "randUnitVectors — re-extract the q_brp_lsh oracle vector table"))
    val fitted = m.invoke(model)
      .asInstanceOf[Array[org.apache.spark.ml.linalg.Vector]]
      .map(_.toArray.toSeq).toSeq
    val golden = graft.queries.MlQueries.brpUnitVectors.map(_.toSeq).toSeq
    assert(fitted == golden,
      "estimator drift: re-extract MlQueries.brpUnitVectors (see its doc)")
  }

  test("brpSelfJoin finds close euclidean pairs only") {
    val vecs = Seq(
      (1L, Vectors.dense(0.0, 0.0)),
      (2L, Vectors.dense(0.1, 0.0)),
      (3L, Vectors.dense(50.0, 50.0))
    ).toDF("id", "features")
    val got = LshJoins.brpSelfJoin(vecs, "id", "features",
      threshold = 1.0, bucketLength = 2.0)
      .select("pk1", "pk2").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("minHashKnn returns k nearest by jaccard distance") {
    val probe = Vectors.sparse(32, Array(0, 1, 2, 3, 4), Array.fill(5)(1.0))
    val got = LshJoins.minHashKnn(sets, "id", "features", probe, k = 2)
      .as[(Long, Double)].collect()
    assert(got.length == 2)
    assert(got.map(_._1).contains(1L)) // identical set must be in top-2
    assert(got.find(_._1 == 1L).get._2 == 0.0)
  }

  test("minHashKnn two-phase widening returns exactly k on a sparse-bucket probe") {
    // probe disjoint from every row: with high numTables the chance any of the
    // 3 rows lands in a probe bucket is tiny, so phase 1 starves (<k) and the
    // hash-distance threshold (reference CustomizedLSH.scala:119-131) must
    // widen the candidate set until exactly k rows come back.
    val probe = Vectors.sparse(32, Array(28, 29, 30, 31), Array.fill(4)(1.0))
    val got = LshJoins.minHashKnn(sets, "id", "features", probe, k = 3)
      .as[(Long, Double)].collect()
    assert(got.length == 3, "sparse-bucket probe must still return k rows")
    // all rows are disjoint from the probe → exact distance 1.0 everywhere
    assert(got.forall(_._2 == 1.0))
  }

  test("minHashKnn keeps the id column's type and leaves nothing cached") {
    val probe = Vectors.sparse(32, Array(0, 1, 2, 3, 4), Array.fill(5)(1.0))
    val byLong = LshJoins.minHashKnn(sets, "id", "features", probe, k = 2)
      .as[(Long, Double)].collect()
    val named = sets.withColumn("id", org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("doc"), $"id".cast("string")))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val byName = LshJoins.minHashKnn(named, "id", "features", probe, k = 2)
    assert(byName.schema("id").dataType == org.apache.spark.sql.types.StringType)
    assert(byName.as[(String, Double)].collect().toSeq ==
      byLong.toSeq.map { case (id, d) => (s"doc$id", d) })
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("minHashKnn exhaustive mode is exact Jaccard kNN (no pruning, no fit)") {
    val probe = Vectors.sparse(32, Array(0, 1, 2, 3, 4), Array.fill(5)(1.0))
    val got = LshJoins.minHashKnn(sets, "id", "features", probe, k = 3,
      exhaustive = true).as[(Long, Double)].collect().sortBy(_._1)
    // hand-derived distances: id1 identical (0), id2 |∩|=4 |∪|=6 → 1/3,
    // id3 disjoint → 1
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got(0)._2 == 0.0)
    assert(math.abs(got(1)._2 - 1.0 / 3) < 1e-12)
    assert(got(2)._2 == 1.0)
    // exhaustive dominates the approximate path: for the same k, its k-th
    // distance is a lower bound on any pruned subset's k-th distance
    val approx = LshJoins.minHashKnn(sets, "id", "features", probe, k = 2)
      .as[(Long, Double)].collect().map(_._2).max
    val exact = LshJoins.minHashKnn(sets, "id", "features", probe, k = 2,
      exhaustive = true).as[(Long, Double)].collect().map(_._2).max
    assert(exact <= approx)
  }

  test("jaccardDistance matches the MinHash keyDistance definition") {
    val a = Vectors.sparse(16, Array(0, 1, 2, 3), Array.fill(4)(1.0))
    val b = Vectors.sparse(16, Array(2, 3, 4, 5), Array.fill(4)(1.0))
    assert(LshJoins.jaccardDistance(a, b) == 1.0 - 2.0 / 6.0)
    assert(LshJoins.jaccardDistance(a, a) == 0.0)
    // explicit zeros in storage must not count as set members
    val c = Vectors.sparse(16, Array(0, 1, 7), Array(1.0, 1.0, 0.0))
    assert(LshJoins.jaccardDistance(a, c) == 1.0 - 2.0 / 4.0)
  }
}
