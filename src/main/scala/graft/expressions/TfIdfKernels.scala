package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen TF(-IDF) featurization kernels (r14, guide §4.1) — the
  * corpus-scale replacement for the stock MLlib UDF chain (RegexTokenizer →
  * StopWordsRemover → HashingTF → IDFModel.transform), which ran four boxed
  * per-row UDFs over every document TWICE per featurization (once under
  * the IDF fit, once in the transform). They are all of
  * FeaturePipeline.features, which feeds q_tfidf_features (headline), the
  * pinned k-means/LDA fits, q_dimsum and q_billmatch.
  *
  * [[CleanTokenTf]] replays the exact [[CleanTokenBuckets]] scan (clean →
  * drop-short-words → \W tokenize → english stop words → HashingTF murmur3
  * bucket) but keeps per-bucket COUNTS instead of the distinct set,
  * emitting the identical SparseVector HashingTF built: ascending bucket
  * indices, integer counts as doubles (HashingTF accumulates `+ 1.0` into
  * an OpenHashMap then sorts by index — integer-exact, order-free).
  *
  * CONTRACT (shared with CleanTokenBuckets): the child is the RAW text, a
  * UTF8_BINARY string. The kernel lowercases it exactly as `lower(text)`
  * would ([[FoldsCase]]), so callers pass no `lower()` and its cold-JVM ICU
  * table build stays off the featurization path.
  *
  * [[IdfScale]] replays mllib IDFModel.transform exactly: sparse in →
  * sparse out with the SAME indices and values(k) · idf(indices(k)) (zeros
  * kept — a bucket present in every document gets idf 0 and drops out of
  * numNonzeros, not out of the index array); dense in → dense out with
  * values(j) · idf(j). One multiply per active slot, same order — the
  * doubles are bit-identical to the stock transform.
  *
  * The idf vector IdfScale applies is not fitted by MLlib's IDF estimator
  * (an RDD `treeAggregate` over deserialized Vectors): FeaturePipeline
  * counts documents per [[CleanTokenBuckets]] bucket — the nonzero indices
  * of the CleanTokenTf vector, from the same scan — in one Catalyst
  * aggregate and replays mllib `IDF`'s idf formula over those integer
  * counts on the driver.
  *
  * Parity is proven corpus-wide in TfIdfKernelsSpec (the stock chain, kept
  * in test scope as the StockPipeline oracle, vs the kernel path,
  * bit-for-bit on (indices, values)) and gated end-to-end by the q_tfidf_features /
  * q_billmatch DuckDB oracles and the four pinned fits downstream.
  */
case class CleanTokenTf(child: Expression, numFeatures: Int,
                        stopWords: Seq[String])
    extends UnaryExpression with FoldsCase {
  require(numFeatures > 0)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.ml.linalg.SQLDataTypes.VectorType
  override def prettyName: String = "graft_clean_token_tf"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopWords.length * 2)
    stopWords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    CleanTokenTf.eval(input.asInstanceOf[UTF8String], useICU, numFeatures, stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      ${ev.value} = graft.expressions.CleanTokenTf$$.MODULE$$.eval(
        $c, $useICU, $numFeatures, $stopRef);"""
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CleanTokenTf {

  /** The [[CleanTokenBuckets.scan]] counts as the serialized sparse
    * VectorUDT row (type=0, size, indices, values). */
  def eval(u: UTF8String, useICU: Boolean, numFeatures: Int,
           stopSet: java.util.HashSet[String]): InternalRow = {
    val counts = new Array[Int](numFeatures)
    val nSeen = CleanTokenBuckets.scan(FoldsCase.scanText(u, useICU), stopSet, counts)
    val idx = new Array[Int](nSeen)
    val vals = new Array[Double](nSeen)
    var b = 0
    var o = 0
    while (o < nSeen) {
      if (counts(b) > 0) { idx(o) = b; vals(o) = counts(b).toDouble; o += 1 }
      b += 1
    }
    new GenericInternalRow(Array[Any](0.toByte, numFeatures,
      new GenericArrayData(idx), new GenericArrayData(vals)))
  }
}

/** IDF scaling of a VectorUDT column against a plan-resident idf vector —
  * mllib IDFModel.transform bit-for-bit (see file doc). */
case class IdfScale(child: Expression, idf: Array[Double])
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.ml.linalg.SQLDataTypes.VectorType
  override def prettyName: String = "graft_idf_scale"

  override def nullSafeEval(input: Any): Any =
    IdfScale.eval(input.asInstanceOf[InternalRow], idf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idfRef = ctx.addReferenceObj("idf", idf, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = graft.expressions.IdfScale$$.MODULE$$.eval($a, $idfRef);"""
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IdfScale {

  def eval(row: InternalRow, idf: Array[Double]): InternalRow = {
    val values = row.getArray(3)
    val n = values.numElements()
    val out = new Array[Double](n)
    if (row.getByte(0) == 1) { // dense: values(j) * idf(j)
      var j = 0
      while (j < n) { out(j) = values.getDouble(j) * idf(j); j += 1 }
      new GenericInternalRow(Array[Any](1.toByte, null, null,
        new GenericArrayData(out)))
    } else { // sparse: same indices, values(k) * idf(indices(k))
      val indices = row.getArray(2)
      val size = row.getInt(1)
      val idxOut = new Array[Int](n)
      var k = 0
      while (k < n) {
        val i = indices.getInt(k)
        idxOut(k) = i
        out(k) = values.getDouble(k) * idf(i)
        k += 1
      }
      new GenericInternalRow(Array[Any](0.toByte, size,
        new GenericArrayData(idxOut), new GenericArrayData(out)))
    }
  }
}
