package graft.cluster

import org.apache.spark.ml.clustering.{BisectingKMeans, BisectingKMeansModel, DriverKMeansFit, KMeans, KMeansModel, LDA, LDAModel}
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clustering / topic / LSA blocking operators (SURVEY M8-M10).
  *
  * These produce the `prediction` column that the blocked candidate join keys
  * on — the reference's ~27× all-pairs reduction (reference
  * docs/tuning_kmeans.md:100-207). All seeds fixed for reproducibility.
  */
object Clustering {

  /** THE deterministic fit sample: the first `fitSampleRows` rows in
    * ascending `xxhash64(order column)` order (raw column as the collision
    * tiebreak), NOT in raw-column order: the first rows of a raw-id sort
    * are the corpus's smallest-id PREFIX, a biased slice whenever ids
    * correlate with content — time-ordered crawls, sharded sources
    * (ADVICE r11). The hash order is equally deterministic (same rows →
    * same sample in the same order, machine-independent) but decorrelated
    * from insertion/time order — a uniform pseudo-random sample with a
    * replayable seed. At gate scale the sample is the whole corpus either
    * way; the bound exists for the 100 TB shape (k centroids need
    * thousands of training rows, not the corpus). Every seeded fit in the
    * engine trains on this frame: k-means here and in graft.ann on its
    * collected rows ([[driverKMeans]]), bisecting k-means and LDA on it
    * cached in one partition ([[sampleFit]]). */
  private[graft] def fitSample(df: DataFrame, orderCol: String,
                               fitSampleRows: Int): DataFrame =
    df.sort(xxhash64(col(orderCol)), col(orderCol)).limit(fitSampleRows)

  /** The MLlib harness for the fits with no driver replay (bisecting
    * k-means, LDA): Some(order): the [[fitSample]] in ONE partition, cached
    * and materialized before the fit (every iteration then reads the same
    * cached partition in the same order — a distributed fit's float
    * reductions follow task completion order, so repeated seeded fits can
    * land on different local optima), released after. None: the fit runs
    * on `df` as given (distributed — the caller accepts reduction-order
    * drift). */
  private[graft] def sampleFit[M](df: DataFrame, fitOrderCol: Option[String],
                                  fitSampleRows: Int)(fit: DataFrame => M): M =
    fitOrderCol match {
      case Some(ord) =>
        val fitIn = fitSample(df, ord, fitSampleRows).coalesce(1).cache()
        fitIn.count()
        try fit(fitIn)
        finally { fitIn.unpersist(blocking = false); () }
      case None => fit(df)
    }

  /** Every seeded k-means fit in the engine: ONE collect of the
    * [[fitSample]] — ordered by `fitOrderCol`, or with none by the vector
    * column `est.getFeaturesCol` itself (its hash, ties broken by the
    * vector, so the point sequence does not depend on how `df` is
    * partitioned) — then MLlib's fit replayed on the driver
    * ([[org.apache.spark.ml.clustering.DriverKMeansFit]]): the centers,
    * iteration count and cost of the stock fit on that sample in one
    * partition, with no Spark job after the collect. `fitSampleRows`
    * bounds the driver memory the points take. */
  private[graft] def driverKMeans(df: DataFrame, est: KMeans, fitOrderCol: Option[String],
                                  fitSampleRows: Int): KMeansModel =
    DriverKMeansFit(est,
      fitSample(df, fitOrderCol.getOrElse(est.getFeaturesCol), fitSampleRows))

  /** K-means blocking (reference feature/Utils.scala:129-149). Returns the
    * input plus a `prediction` column, and the model (for WSSSE =
    * summary.trainingCost, the Spark-4 home of computeCost).
    *
    * The model is fitted on the driver ([[driverKMeans]]) over the bounded
    * hash-ordered sample — the `fitOrderCol` hash order when set (pinned
    * gates pass the id column), else the feature vectors' own hash
    * order — so the fit is the same at any partition count and core count
    * and costs one collect, not ~45 Spark stages. Assignment (`transform`)
    * stays fully distributed. With or without `fitOrderCol`, a corpus above
    * `fitSampleRows` rows trains on its first `fitSampleRows` rows in that
    * order only. */
  def kmeans(df: DataFrame, k: Int, maxIter: Int = 40, seed: Long = 12345L,
             featuresCol: String = "features",
             fitOrderCol: Option[String] = None,
             fitSampleRows: Int = 1 << 17): (KMeansModel, DataFrame) = {
    val model = driverKMeans(df,
      new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed).setFeaturesCol(featuresCol),
      fitOrderCol, fitSampleRows)
    (model, model.transform(df))
  }

  /** Bisecting k-means — the reference's commented alternative blocker
    * (feature/Utils.scala:138). Same contract as [[kmeans]]. */
  def bisectingKmeans(df: DataFrame, k: Int, maxIter: Int = 20, seed: Long = 12345L,
                      featuresCol: String = "features",
                      fitOrderCol: Option[String] = None,
                      fitSampleRows: Int = 1 << 17): (BisectingKMeansModel, DataFrame) = {
    val model = sampleFit(df, fitOrderCol, fitSampleRows) { fitIn =>
      new BisectingKMeans()
        .setK(k).setMaxIter(maxIter).setSeed(seed)
        .setFeaturesCol(featuresCol)
        .fit(fitIn)
    }
    (model, model.transform(df))
  }

  /** LDA topic model (reference LDAAnalyzer.scala:85-116). Returns the model
    * (describeTopics, logLikelihood/logPerplexity) and the input plus
    * `topicDistribution`; `prediction` = argmax topic as blocking label. */
  def lda(df: DataFrame, k: Int, maxIter: Int = 20, seed: Long = 12345L,
          featuresCol: String = "features",
          fitOrderCol: Option[String] = None,
          fitSampleRows: Int = 1 << 17): (LDAModel, DataFrame) = {
    val model = sampleFit(df, fitOrderCol, fitSampleRows) { fitIn =>
      new LDA()
        .setK(k).setMaxIter(maxIter).setSeed(seed)
        .setFeaturesCol(featuresCol)
        .fit(fitIn)
    }
    val withTopics = model.transform(df)
    val argmax = udf((v: Vector) => v.argmax)
    (model, withTopics.withColumn("prediction", argmax(col("topicDistribution"))))
  }

  /** Truncated-SVD (LSA) projection that PRESERVES KEYS: instead of the
    * reference's RowMatrix reconstruction + zipWithIndex re-join
    * (reference feature/Utils.scala:151-175, ExtractCandidates.scala:114-133,
    * SURVEY J6), fit V on a RowMatrix and project each row x → Vᵗx with a
    * broadcast V. One extra narrow map, zero joins, keys never leave the row. */
  def lsaProject(df: DataFrame, numConcepts: Int,
                 featuresCol: String = "features",
                 outputCol: String = "lsa_features"): DataFrame = {
    val rows = df.select(col(featuresCol)).rdd
      .map(r => org.apache.spark.mllib.linalg.Vectors.fromML(r.getAs[Vector](0)))
    val svd = new RowMatrix(rows).computeSVD(numConcepts, computeU = false)
    val v = svd.V // numFeatures x k, small (k columns)
    projectRows(df, v.toArray, v.numRows, v.numCols, featuresCol, outputCol)
  }

  /** The projection half of [[lsaProject]], basis supplied explicitly:
    * x → Vᵗx with `vColMajor` the numFeatures×numConcepts basis in
    * column-major layout, broadcast once. Split out so the arithmetic is
    * gate-checkable independent of the SVD fit — q_lsa_project runs this
    * with a PINNED basis (deterministic data vectors) and a DuckDB oracle
    * replays every dot product; the SVD-fitted path layers only `computeSVD`
    * on top (spec-gated in ClusteringSpec). Same kernel at any scale: one
    * narrow map over rows, zero joins, keys never leave the row. */
  def projectRows(df: DataFrame, vColMajor: Array[Double], numFeatures: Int,
                  numConcepts: Int, featuresCol: String = "features",
                  outputCol: String = "lsa_features"): DataFrame = {
    require(vColMajor.length == numFeatures * numConcepts,
      s"basis length ${vColMajor.length} != $numFeatures x $numConcepts")
    // native codegen expression (r13): the former Scala UDF deserialized an
    // ml.Vector object per corpus row (the boxing-UDF class the r12 ADC fix
    // priced at 4+ s wall / 20 s GC per 500k rows); the expression reads the
    // VectorUDT struct directly with the identical foreachActive
    // accumulation order (dense: every index ascending; sparse: active
    // indices ascending; out(j) from 0.0) so q_lsa_project stays
    // hash-unchanged.
    val project = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.VectorProject(
        org.apache.spark.sql.graft.bridge.expression(col(featuresCol)),
        vColMajor, numFeatures, numConcepts))
    df.withColumn(outputCol, project)
  }
}
