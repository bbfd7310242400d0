package graft.text

import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text→TF(-IDF) features — the engine's equivalent of the reference's
  * `Utils.extractFeatures` chain (reference feature/Utils.scala:181-242):
  * clean → tokenize → stopwords → HashingTF → [IDF].
  *
  * Differences from the reference, on purpose:
  *  - the whole chain is two native codegen kernels over the raw text,
  *    [[graft.expressions.CleanTokenTf]] and [[graft.expressions.IdfScale]];
  *  - stemming (external spark-stemming jar, Utils.scala:200-204) and
  *    n-grams are column operators on token arrays ([[TextOps.stemTokens]],
  *    [[TextOps.snowballTokens]], [[TextOps.ngrams]]), not featurizer
  *    options;
  *  - a per-document term set without hashing is [[TextOps.termSet]].
  *
  * Scale: hashing is stateless (no fit job, no vocab broadcast) — the right
  * shape at 100 TB. The IDF fit is one Catalyst aggregate.
  */
final case class FeatureConfig(
    numTextFeatures: Int = 4096,
    useIdf: Boolean = true)

object FeaturePipeline {

  /** The input text column and the output vector column. */
  private val inputCol = "text"
  private val outputCol = "features"

  /** The input columns plus `features`: HashingTF's exact SparseVector
    * (ascending murmur3 buckets, integer counts) and, with `useIdf`, that
    * vector scaled by [[idfOf]] — mllib IDF's own arithmetic over integer
    * document counts from one Catalyst aggregate, no MLlib RDD fit — the
    * scaling replaying mllib IDFModel.transform multiply-for-multiply.
    * Output is bit-identical to the stock RegexTokenizer → StopWordsRemover
    * → HashingTF → IDF(minDocFreq = 1) pipeline, which TfIdfKernelsSpec
    * keeps as its oracle; the q_tfidf_features/q_billmatch oracles and the
    * four pinned fits gate it end-to-end.
    *
    * A null text gets null features and is not counted by the IDF fit
    * (neither in the document count nor in any document frequency), and
    * an empty frame featurizes to an empty frame; MLlib's IDF estimator
    * throws on both.
    *
    * The kernels take the raw text and lowercase it in their own scan, as
    * `lower()` would, so no `Lower` runs here (its first use in a JVM builds
    * an unused 1.1M-code-point ICU table). Non-ASCII text is lowercased
    * under Spark's `spark.sql.icu.caseMappings.enabled`, as `lower()` reads
    * it: ICU case mappings when true (the default), `String.toLowerCase`
    * when false. The text must be a UTF8_BINARY string. */
  def features(df: DataFrame, cfg: FeatureConfig): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val stop = StopWordsRemover.loadDefaultStopWords("english").toSeq
    val text = bridge.expression(col(inputCol))
    val tfCol = bridge.column(
      graft.expressions.CleanTokenTf(text, cfg.numTextFeatures, stop))
    if (!cfg.useIdf) df.withColumn(outputCol, tfCol)
    else {
      val buckets = bridge.column(
        graft.expressions.CleanTokenBuckets(text, cfg.numTextFeatures, stop))
      val idf = idfOf(df.where(col(inputCol).isNotNull), buckets, cfg.numTextFeatures)
      df.withColumn(outputCol, bridge.column(graft.expressions.IdfScale(
        bridge.expression(tfCol), idf)))
    }
  }

  /** The idf vector of mllib `IDF.fit` (minDocFreq 1) over the TF vectors
    * of `docs` whose positive entries are exactly `buckets` (a
    * distinct-bucket array per document), from ONE aggregate:
    * `posexplode_outer` gives every document one row at position 0 (or one
    * null row when it has no bucket), grouped by bucket, so at most
    * `numFeatures + 1` rows reach the driver carrying each bucket's
    * document frequency and, summed, the document count `m`. The
    * arithmetic is `IDF.DocumentFrequencyAggregator.idf()`'s (Spark 4.1.2
    * bytecode): `log((m + 1) / (df + 1))` in doubles when `df >= 1`, else
    * 0 — over integer counts, so the doubles are bit-identical. */
  private def idfOf(docs: DataFrame, buckets: Column, numFeatures: Int): Array[Double] = {
    val docFreq = new Array[Long](numFeatures)
    var m = 0L
    docs.select(posexplode_outer(buckets))
      .groupBy(col("col").as("bucket"))
      .agg(count(lit(1)).as("df"),
        count(when(coalesce(col("pos"), lit(0)) === 0, true)).as("docs"))
      .collect().foreach { r =>
        if (!r.isNullAt(0)) docFreq(r.getLong(0).toInt) = r.getLong(1)
        m += r.getLong(2)
      }
    docFreq.map(d =>
      if (d >= 1) math.log((m.toDouble + 1.0) / (d.toDouble + 1.0)) else 0.0)
  }
}
