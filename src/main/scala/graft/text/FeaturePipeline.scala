package graft.text

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.feature._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Configurable text→TF(-IDF) feature pipeline — the engine's equivalent of
  * the reference's `Utils.extractFeatures` chain (reference
  * feature/Utils.scala:181-242): clean → tokenize → stopwords → [n-grams] →
  * HashingTF | CountVectorizer → [IDF].
  *
  * Differences from the reference, on purpose:
  *  - cleaning is a Column expression (TextOps.clean), not a UDF;
  *  - stemming (external spark-stemming jar, Utils.scala:200-204) is served
  *    by in-repo clean-room stemmers: classic Porter (1980) or Snowball /
  *    Porter2 English — the algorithm that jar actually ran — selected via
  *    `stemmerAlgorithm`;
  *  - all stages are the stock Spark ML transformers, so the fitted
  *    PipelineModel is save/load-able and its transform is codegen-friendly.
  *
  * Scale: HashingTF is stateless (no fit job, no vocab broadcast) — the right
  * default at 100 TB. CountVectorizer (vocab dump, reference Utils.scala:218-230)
  * is the opt-in for interpretability; its fit is one aggregation job and the
  * vocabulary broadcast is bounded by `vocabLimit`.
  */
final case class FeatureConfig(
    inputCol: String = "text",
    outputCol: String = "features",
    numTextFeatures: Int = 4096,
    addNGramFeatures: Boolean = false,
    nGramGranularity: Int = 5,
    useCountVectorizer: Boolean = false,
    vocabLimit: Int = 1 << 16,
    useIdf: Boolean = true,
    minDocFreq: Int = 1,
    useStemming: Boolean = false,
    stemmerAlgorithm: String = "porter", // "porter" | "snowball" (Porter2)
    extraStopWords: Seq[String] = Nil)

object FeaturePipeline {

  /** The reference ships 104 extra stopwords (state names/demonyms/ordinals,
    * stopwords/extra.txt); domain-neutral default here, callers add their own. */
  val defaultExtraStopWords: Seq[String] = Seq.empty

  def build(cfg: FeatureConfig): Pipeline = {
    val tokenizer = new RegexTokenizer()
      .setInputCol("__clean").setOutputCol("__tokens")
      .setPattern("\\W")
    val stopper = new StopWordsRemover()
      .setInputCol("__tokens").setOutputCol("__filtered")
      .setStopWords(StopWordsRemover.loadDefaultStopWords("english")
        ++ cfg.extraStopWords)
    val stemmed = if (cfg.useStemming) "__stemmed" else "__filtered"
    val stemmer = new StemmerStage()
      .setInputCol("__filtered").setOutputCol("__stemmed")
      .setAlgorithm(cfg.stemmerAlgorithm)
    val termsCol =
      if (cfg.addNGramFeatures) {
        "__ngrams"
      } else stemmed
    val ngram = new NGram()
      .setN(cfg.nGramGranularity)
      .setInputCol(stemmed).setOutputCol("__ngrams")
    val vectorize =
      if (cfg.useCountVectorizer)
        new CountVectorizer()
          .setInputCol(termsCol).setOutputCol(if (cfg.useIdf) "__tf" else cfg.outputCol)
          .setVocabSize(cfg.vocabLimit)
      else
        new HashingTF()
          .setInputCol(termsCol).setOutputCol(if (cfg.useIdf) "__tf" else cfg.outputCol)
          .setNumFeatures(cfg.numTextFeatures)
    val stages = Seq(tokenizer, stopper) ++
      (if (cfg.useStemming) Seq(stemmer) else Nil) ++
      (if (cfg.addNGramFeatures) Seq(ngram) else Nil) ++
      Seq(vectorize) ++
      (if (cfg.useIdf)
        Seq(new IDF().setInputCol("__tf").setOutputCol(cfg.outputCol)
          .setMinDocFreq(cfg.minDocFreq))
      else Nil)
    new Pipeline().setStages(stages.toArray)
  }

  /** Fit + transform, returning the input columns plus `cfg.outputCol`
    * (intermediate __-prefixed columns dropped).
    *
    * r14 (guide §4.1): the plain HashingTF(±IDF) shape — every featurizing
    * registry query except the CountVectorizer gates — runs through the
    * native [[graft.expressions.CleanTokenTf]] / [[graft.expressions.IdfScale]]
    * codegen kernels instead of the stock 4-UDF transformer chain, which
    * evaluated two Java-regex passes plus three boxed per-row UDFs over
    * every document TWICE per featurization (once under the IDF fit's scan,
    * once in the transform). Output is bit-identical (TfIdfKernelsSpec
    * full-corpus parity; q_tfidf_features/q_billmatch oracles + the four
    * pinned fits gate it end-to-end): the TF vector is HashingTF's exact
    * SparseVector (ascending murmur3 buckets, integer counts), the idf
    * vector is [[idfOf]] — mllib IDF's own arithmetic over integer document
    * counts from one Catalyst aggregate, no MLlib RDD fit — and the scaling
    * replays mllib IDFModel.transform multiply-for-multiply.
    * Stemming / n-gram / CountVectorizer configs keep the stock pipeline.
    *
    * On this kernel path a null text gets null features and is not counted
    * by the IDF fit (neither in the document count nor in any document
    * frequency), and an empty frame featurizes to an empty frame; MLlib's
    * IDF estimator throws on both.
    *
    * The kernels take the raw text and lowercase it in their own scan, as
    * `lower()` would, so no `Lower` runs here (its first use in a JVM builds
    * an unused 1.1M-code-point ICU table). Non-ASCII text is lowercased
    * under Spark's `spark.sql.icu.caseMappings.enabled`, as `lower()` reads
    * it: ICU case mappings when true (the default), `String.toLowerCase`
    * when false. The text must be a UTF8_BINARY string. */
  def features(df: DataFrame, cfg: FeatureConfig): DataFrame =
    if (cfg.useCountVectorizer || cfg.useStemming || cfg.addNGramFeatures)
      fitTransform(df, cfg)._2
    else {
      import org.apache.spark.sql.graft.bridge
      // lowercased like the stock (case-insensitive) StopWordsRemover: the
      // kernel matches the set against the text it lowercases itself
      val stop = (StopWordsRemover.loadDefaultStopWords("english") ++
        cfg.extraStopWords).map(_.toLowerCase(java.util.Locale.ROOT)).toSeq
      val text = bridge.expression(col(cfg.inputCol))
      val tfCol = bridge.column(
        graft.expressions.CleanTokenTf(text, cfg.numTextFeatures, stop))
      if (!cfg.useIdf) df.withColumn(cfg.outputCol, tfCol)
      else {
        val buckets = bridge.column(
          graft.expressions.CleanTokenBuckets(text, cfg.numTextFeatures, stop))
        val idf = idfOf(df.where(col(cfg.inputCol).isNotNull), buckets,
          cfg.numTextFeatures, cfg.minDocFreq)
        df.withColumn(cfg.outputCol, bridge.column(graft.expressions.IdfScale(
          bridge.expression(tfCol), idf)))
      }
    }

  /** The idf vector of mllib `IDF.fit` over the TF vectors of `docs` whose
    * positive entries are exactly `buckets` (a distinct-bucket array per
    * document), from ONE aggregate: `posexplode_outer` gives every document
    * one row at position 0 (or one null row when it has no bucket), grouped
    * by bucket, so at most `numFeatures + 1` rows reach the driver carrying
    * each bucket's document frequency and, summed, the document count `m`.
    * The arithmetic is `IDF.DocumentFrequencyAggregator.idf()`'s (Spark
    * 4.1.2 bytecode): `log((m + 1) / (df + 1))` in doubles when
    * `df >= minDocFreq`, else 0 — over integer counts, so the doubles are
    * bit-identical. */
  private def idfOf(docs: DataFrame, buckets: Column, numFeatures: Int,
                    minDocFreq: Int): Array[Double] = {
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
      if (d >= minDocFreq) math.log((m.toDouble + 1.0) / (d.toDouble + 1.0)) else 0.0)
  }

  def fitTransform(df: DataFrame, cfg: FeatureConfig): (PipelineModel, DataFrame) = {
    val cleaned = df.withColumn("__clean",
      TextOps.dropSmallWords(TextOps.clean(col(cfg.inputCol))))
    val model = build(cfg).fit(cleaned)
    val out = model.transform(cleaned)
      .drop("__clean", "__tokens", "__filtered", "__stemmed", "__ngrams", "__tf")
    (model, out)
  }

  /** Vocabulary of a fitted CountVectorizer stage (reference dumps this to
    * vocab.dat, Utils.scala:223-227). */
  def vocabulary(model: PipelineModel): Option[Array[String]] =
    model.stages.collectFirst { case cv: CountVectorizerModel => cv.vocabulary }
}
