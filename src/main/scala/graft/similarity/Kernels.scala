package graft.similarity

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** The nine vector-similarity measures of the reference engine, all
  * `(Vector, Vector) => Float` scaled 0–100 (reference
  * similarity/SimilarityMeasure.scala:19-175, dispatch BillAnalyzer.scala:72-109).
  *
  * Implementation is merge-based over the sparse vectors' sorted index arrays
  * (no Set allocation per row — these kernels sit inside the all-pairs hot loop,
  * reference workflow computed 2.6e9 pairs). Each measure scores two
  * [[Operand]]s, so a pair kernel that meets one row in many pairs
  * ([[BlockScore]]) derives its norms and support once per row; applied to
  * two vectors, or through [[udfFor]] over VectorUDT columns, it derives them
  * per pair. For array<float> embedding columns use [[ArrayOps]], which stays
  * in whole-stage codegen.
  */
object Kernels {

  /** A vector with what the measures read of it besides its entries, each
    * derived on first use and then kept. */
  final class Operand(val v: Vector) {
    lazy val support: Array[Int] = v.toSparse.indices
    lazy val l1: Double = Vectors.norm(v, 1)
    lazy val l2: Double = Vectors.norm(v, 2)
    lazy val dense: Array[Double] = v.toArray
  }

  /** A measure over two operands, also applicable to two plain vectors. */
  final class Measure(val score: (Operand, Operand) => Float)
      extends ((Vector, Vector) => Float) with Serializable {
    def apply(v1: Vector, v2: Vector): Float = score(new Operand(v1), new Operand(v2))
  }

  /** Size of the intersection of the two sparse support (nonzero-index) sets,
    * by merging the sorted index arrays. */
  private[similarity] def intersectionSize(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Sparse-aware dot product via the same index merge. */
  private[similarity] def dot(v1: Vector, v2: Vector): Double = (v1, v2) match {
    case (a: SparseVector, b: SparseVector) =>
      val (ai, av, bi, bv) = (a.indices, a.values, b.indices, b.values)
      var i = 0; var j = 0; var s = 0.0
      while (i < ai.length && j < bi.length) {
        if (ai(i) == bi(j)) { s += av(i) * bv(j); i += 1; j += 1 }
        else if (ai(i) < bi(j)) i += 1
        else j += 1
      }
      s
    case _ =>
      val a = v1.toArray; val b = v2.toArray
      var i = 0; var s = 0.0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
  }

  /** L1 distance without materializing a difference vector. */
  private[similarity] def l1Distance(v1: Vector, v2: Vector): Double = (v1, v2) match {
    case (a: SparseVector, b: SparseVector) =>
      val (ai, av, bi, bv) = (a.indices, a.values, b.indices, b.values)
      var i = 0; var j = 0; var s = 0.0
      while (i < ai.length && j < bi.length) {
        if (ai(i) == bi(j)) { s += math.abs(av(i) - bv(j)); i += 1; j += 1 }
        else if (ai(i) < bi(j)) { s += math.abs(av(i)); i += 1 }
        else { s += math.abs(bv(j)); j += 1 }
      }
      while (i < ai.length) { s += math.abs(av(i)); i += 1 }
      while (j < bi.length) { s += math.abs(bv(j)); j += 1 }
      s
    case _ =>
      val a = v1.toArray; val b = v2.toArray
      var i = 0; var s = 0.0
      while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
      s
  }

  /** 100·|x·y|/(‖x‖₂‖y‖₂) — reference SimilarityMeasure.scala:23-38. */
  val cosine = new Measure((x, y) => {
    val norms = x.l2 * y.l2
    (100.0 * math.abs(dot(x.v, y.v)) / norms).toFloat
  })

  /** 100/(1+‖x−y‖₁) — reference SimilarityMeasure.scala:40-51. */
  val manhattan = new Measure((x, y) =>
    (100.0 / (1.0 + l1Distance(x.v, y.v))).toFloat)

  /** Bit-level XOR popcount for very sparse vectors, elementwise mismatch count
    * otherwise; 100/(1+d) — reference SimilarityMeasure.scala:53-75. */
  val hamming = new Measure((x, y) => {
    val d =
      if (x.support.length < 10) {
        val b1 = x.dense.map(_.toByte)
        val b2 = y.dense.map(_.toByte)
        var i = 0; var s = 0
        while (i < b1.length) { s += java.lang.Integer.bitCount((b1(i) ^ b2(i)) & 0xff); i += 1 }
        s
      } else {
        val a = x.dense; val b = y.dense
        var i = 0; var s = 0
        while (i < a.length) { if (a(i) != b(i)) s += 1; i += 1 }
        s
      }
    (100.0 / (1.0 + d)).toFloat
  })

  /** 100·|∩|/|∪| over nonzero index sets — reference SimilarityMeasure.scala:78-95. */
  val jaccard = new Measure((x, y) => {
    val (s1, s2) = (x.support, y.support)
    val inter = intersectionSize(s1, s2).toFloat
    inter / (s1.length + s2.length - inter) * 100.0f
  })

  /** 100·|∩|/min(|x|,|y|) — reference SimilarityMeasure.scala:97-111. */
  val maxAsymJaccard = new Measure((x, y) => {
    val (s1, s2) = (x.support, y.support)
    intersectionSize(s1, s2).toFloat / math.min(s1.length, s2.length) * 100.0f
  })

  /** 100·|∩|/|x| — reference SimilarityMeasure.scala:145-154. */
  val leftJaccard = new Measure((x, y) => {
    val (s1, s2) = (x.support, y.support)
    intersectionSize(s1, s2).toFloat / s1.length * 100.0f
  })

  /** 100·|∩|/|y| — reference SimilarityMeasure.scala:156-165. */
  val rightJaccard = new Measure((x, y) => {
    val (s1, s2) = (x.support, y.support)
    intersectionSize(s1, s2).toFloat / s2.length * 100.0f
  })

  /** Lopsided-pair weighted L1 blend, falling back to plain Jaccard when the
    * support sizes are within ~5×√(xy) — reference SimilarityMeasure.scala:113-143. */
  val weightedJaccard = new Measure((x, y) => {
    val (s1, s2) = (x.support, y.support)
    val inter = intersectionSize(s1, s2).toFloat
    val xsize = s1.length
    val ysize = s2.length
    val relative = math.abs(xsize - ysize).toFloat / math.sqrt(xsize.toLong * ysize)
    if (relative > 5.0) {
      val m = math.min(xsize, ysize).toFloat
      val alpha = m / math.max(xsize, ysize).toFloat
      val r = inter / m
      val weight = ((1.0 - r) * (1.0 + alpha) / (1.0 + r) / (1.0 + alpha - 2.0 * alpha * r)).toFloat
      val l1 = l1Distance(x.v, y.v)
      val n1 = x.l1
      val n2 = y.l1
      (100.0 * (n1 + n2 - weight * l1) / (n1 + n2 + weight * l1)).toFloat
    } else {
      inter / (xsize + ysize - inter) * 100.0f
    }
  })

  /** 100·(d−mismatches)/d over dense positions — reference SimilarityMeasure.scala:168-175. */
  val denseJaccard = new Measure((x, y) => {
    val a = x.dense; val b = y.dense
    var i = 0; var s = 0
    while (i < a.length) { if (a(i) != b(i)) s += 1; i += 1 }
    100.0f * (a.length - s) / a.length
  })

  /** Dispatch table (reference BillAnalyzer.scala:72-109). */
  val byName: Map[String, Measure] = Map(
    "cosine" -> cosine,
    "manhattan" -> manhattan,
    "hamming" -> hamming,
    "jaccard" -> jaccard,
    "maxasymjaccard" -> maxAsymJaccard,
    "weighted_jaccard" -> weightedJaccard,
    "left_jaccard" -> leftJaccard,
    "right_jaccard" -> rightJaccard,
    "dense_jaccard" -> denseJaccard)

  /** UDF over two VectorUDT columns for the named measure. */
  def udfFor(name: String): UserDefinedFunction = udf(byName(name))

  /** Raw sparse dot product as a UDF — exposed for oracle-replayable
    * compositions: over integer-valued count vectors every product and the
    * running sum are exact in a double (≤ 2^53), so the result is
    * order-insensitive and a SQL `SUM(a.c*b.c)` replays it bit-for-bit
    * (the [[cosine]] measure's Float×100 presentation is kept out so the
    * caller controls rounding). */
  def dotUdf: UserDefinedFunction = udf((v1: Vector, v2: Vector) => dot(v1, v2))
}
