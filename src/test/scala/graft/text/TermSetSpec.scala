package graft.text

import graft.SparkSpec
import graft.expressions.{CleanTokenBucketsSpec, RawTextLowerSpec, TfIdfKernelsSpec}
import org.apache.spark.sql.functions._

/** [[TextOps.termSet]] is the stock RegexTokenizer → StopWordsRemover chain
  * as a set, document for document — q_count_vectorized counts it and
  * q_knn_exact vectorizes it, so both compute what the stock chain's
  * CountVectorizer vectors gave on every input, not only on the fixture.
  * The inputs include the accented text where the featurization kernels
  * deliberately follow the oracle's ASCII `\b` instead: the helper runs the
  * stock chain's own Java regexes and must keep the stock answer there.
  */
class TermSetSpec extends SparkSpec {
  import spark.implicits._

  test("termSet == the stock tokenizer and stop-word remover, as a set") {
    val rows = TfIdfKernelsSpec.advRows ++
      TfIdfKernelsSpec.fuzzRows(13, 150).map { case (i, t) => (1000L + i, t) } ++
      TfIdfKernelsSpec.fuzzRows(7, 200).map { case (i, t) => (2000L + i, t) } ++
      CleanTokenBucketsSpec.nonAsciiRows.map { case (i, t) => (4000L + i, t) } ++
      RawTextLowerSpec.texts.filter(_ != null).zipWithIndex
        .map { case (t, i) => (3000L + i, t) }
    asScan(rows.toDF("doc_id", "text")) { docs =>
      val stock = StockPipeline.terms(docs).select("doc_id", "terms")
        .as[(Long, Seq[String])].collect().toMap
      val helper = docs.select(col("doc_id"), TextOps.termSet(col("text")))
        .as[(Long, Seq[String])].collect().toMap
      assert(stock.keySet == rows.map(_._1).toSet && helper.keySet == stock.keySet)
      val bad = stock.keySet.filter(id => helper(id).toSet != stock(id).toSet)
      assert(bad.isEmpty,
        bad.take(3).map(id => (id, helper(id), stock(id))).mkString("; "))
      // a set: no term twice
      assert(helper.values.forall(s => s.distinct == s))
      // the accented case keeps the stock chain's 1-char "r"
      assert(helper(4009L).toSet == Set("caf", "men", "r", "sum", "plain", "words"),
        helper(4009L))
    }
  }
}
