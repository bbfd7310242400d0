package graft.text

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.feature.{HashingTF, IDF, RegexTokenizer, StopWordsRemover}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The stock MLlib featurization chain that [[FeaturePipeline.features]]
  * and the kernels behind it replay: clean → dropSmallWords →
  * RegexTokenizer(`\W`) → english StopWordsRemover → HashingTF →
  * [IDF(minDocFreq = 1)]. The parity specs' oracle; nothing outside the
  * tests runs it.
  */
object StockPipeline {

  /** The input columns plus `terms`: each document's tokens after the
    * StopWordsRemover, with duplicates and in text order. */
  def terms(df: DataFrame): DataFrame = {
    val tokenizer = new RegexTokenizer()
      .setInputCol("__clean").setOutputCol("__tokens").setPattern("\\W")
    val stopper = new StopWordsRemover()
      .setInputCol("__tokens").setOutputCol("terms")
      .setStopWords(StopWordsRemover.loadDefaultStopWords("english"))
    stopper.transform(tokenizer.transform(df.withColumn("__clean",
        TextOps.dropSmallWords(TextOps.clean(col("text"))))))
      .drop("__clean", "__tokens")
  }

  /** The input columns plus `features`, fitted and transformed by the
    * stock HashingTF (→ IDF) stages under `cfg`. */
  def features(df: DataFrame, cfg: FeatureConfig): DataFrame = {
    val tf = new HashingTF().setInputCol("terms")
      .setOutputCol(if (cfg.useIdf) "__tf" else "features")
      .setNumFeatures(cfg.numTextFeatures)
    val idf = new IDF().setInputCol("__tf").setOutputCol("features").setMinDocFreq(1)
    val stages: Array[PipelineStage] = if (cfg.useIdf) Array(tf, idf) else Array(tf)
    val docs = terms(df)
    new Pipeline().setStages(stages).fit(docs).transform(docs).drop("terms", "__tf")
  }
}
