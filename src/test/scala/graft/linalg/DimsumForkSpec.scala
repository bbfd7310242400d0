package graft.linalg

import graft.SparkSpec
import org.apache.spark.mllib.graft.DimsumFork
import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix

/** DimsumFork ≡ mllib RowMatrix.columnSimilarities, bit-for-bit.
  *
  * The fork replays the stock DIMSUM sampling loop (same
  * XORShiftRandom(partitionIndex) seeding, same short-circuit RNG call
  * order) with primitive-array accumulation instead of per-product boxing;
  * the q_dimsum gate pin depends on the sampled pair set and the
  * `>= 0.5` filter on the estimates, so parity must hold on VALUES
  * (Double.doubleToLongBits), not approximately. Every case runs the SAME
  * row RDD (same partitioning — the RNG seed is the partition index)
  * through both implementations.
  */
class DimsumForkSpec extends SparkSpec {

  /** Deterministic pseudo-random sparse corpus: nRows feature rows over
    * nCols doc columns, ~density fraction nonzero, values in (0, 1]. */
  private def corpus(nRows: Int, nCols: Int, density: Double, seed: Long,
                     parts: Int): org.apache.spark.rdd.RDD[Vector] = {
    val rnd = new scala.util.Random(seed)
    val rows = Seq.tabulate(nRows) { _ =>
      val idx = (0 until nCols).filter(_ => rnd.nextDouble() < density).toArray
      val vals = idx.map(_ => rnd.nextDouble() + 1e-3)
      Vectors.sparse(nCols, idx, vals): Vector
    }
    spark.sparkContext.parallelize(rows, parts)
  }

  private def stock(rows: org.apache.spark.rdd.RDD[Vector], threshold: Double)
      : Map[(Long, Long), Long] =
    new RowMatrix(rows).columnSimilarities(threshold).entries
      .collect()
      .map(e => (e.i, e.j) -> java.lang.Double.doubleToLongBits(e.value))
      .toMap

  private def forked(rows: org.apache.spark.rdd.RDD[Vector], threshold: Double,
                     maxCapacity: Int = 1 << 23,
                     denseMaxCols: Int = 6000): Map[(Long, Long), Long] =
    DimsumFork.similarColumns(new RowMatrix(rows), threshold, maxCapacity,
        denseMaxCols)
      .collect()
      .map { case (i, j, v) => (i, j) -> java.lang.Double.doubleToLongBits(v) }
      .toMap

  test("bit-for-bit parity with mllib across thresholds and shapes, " +
      "through BOTH accumulators") {
    for {
      (nRows, nCols, density, parts) <- Seq(
        (40, 60, 0.3, 4),   // wide, moderately dense, multi-partition
        (8, 200, 0.08, 3),  // many columns, sparse
        (64, 25, 0.7, 5),   // few columns, dense — heavy sampling pressure
        (10, 30, 0.4, 1))   // single partition (single RNG stream)
      threshold <- Seq(0.0, 0.1, 0.3, 0.8) // 0.0 = gamma ∞ (no sampling)
      seed <- Seq(1L, 99L)
    } {
      val rows = corpus(nRows, nCols, density, seed, parts)
      rows.cache(); rows.count()
      val a = stock(rows, threshold)
      val dense = forked(rows, threshold) // nCols ≤ 6000 ⇒ dense accumulator
      val hash = forked(rows, threshold, denseMaxCols = 0) // force hash path
      assert(a == dense,
        s"dense mismatch at rows=$nRows cols=$nCols d=$density parts=$parts " +
          s"t=$threshold seed=$seed: stock=${a.size} fork=${dense.size}")
      assert(a == hash,
        s"hash mismatch at rows=$nRows cols=$nCols d=$density parts=$parts " +
          s"t=$threshold seed=$seed: stock=${a.size} fork=${hash.size}")
      rows.unpersist()
    }
  }

  test("parity on dense vector rows (the DenseVector branch)") {
    val rnd = new scala.util.Random(7L)
    val rows = spark.sparkContext.parallelize(
      Seq.tabulate(20)(_ =>
        Vectors.dense(Array.fill(30)(
          if (rnd.nextDouble() < 0.6) rnd.nextDouble() else 0.0)): Vector), 3)
    rows.cache(); rows.count()
    for (t <- Seq(0.0, 0.3)) {
      assert(stock(rows, t) == forked(rows, t))
      assert(stock(rows, t) == forked(rows, t, denseMaxCols = 0))
    }
    rows.unpersist()
  }

  test("flush valve: tiny maxCapacity keeps the pair SET and partition sums " +
      "re-associate exactly like a combiner spill (values within 1e-12)") {
    val rows = corpus(30, 50, 0.5, 5L, 2)
    rows.cache(); rows.count()
    val full = forked(rows, 0.3)
    // hash path at capacity 64 forces many flushes per partition
    val flushed = forked(rows, 0.3, maxCapacity = 64, denseMaxCols = 0)
    assert(full.keySet == flushed.keySet)
    for ((k, bits) <- full) {
      val a = java.lang.Double.longBitsToDouble(bits)
      val b = java.lang.Double.longBitsToDouble(flushed(k))
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a)), s"key $k: $a vs $b")
    }
    rows.unpersist()
  }

  test("flush valve: the hash table never grows past maxCapacity slots") {
    // the valve flushes before the insert that would reach 2/3 load; a
    // check of the pre-insert size lets that insert grow the table to 2x
    val keys = (1L to 1000L).iterator.map(i => (i << 32) | (i + 1))
    val peak = org.apache.spark.mllib.graft.DimsumProbe.peakSlots(64, keys)
    assert(peak <= 64, s"the table grew to $peak slots at maxCapacity 64")
  }

  test("docSimilarities end-to-end still matches the exact-cosine limit") {
    // threshold 0 ⇒ no sampling ⇒ exact cosine through the fork
    import spark.implicits._
    val docs = Seq(
      (0L, Vectors.sparse(4, Array(0, 1), Array(3.0, 4.0)).asML),
      (1L, Vectors.sparse(4, Array(0, 2), Array(1.0, 2.0)).asML),
      (2L, Vectors.sparse(4, Array(1, 2, 3), Array(2.0, 2.0, 1.0)).asML))
      .toDF("doc_id", "features")
    val out = Dimsum.docSimilarities(docs, "doc_id", "features", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expect01 = 3.0 / (5.0 * math.sqrt(5.0))
    assert(math.abs(out((0L, 1L)) - expect01) < 1e-12)
    assert(out.size == 3)
  }
}
