package org.apache.spark.ml.clustering

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.mllib.clustering.{DistanceMeasure, DriverKMeans}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.DataFrame

/** `KMeans.fit` on the driver: the estimator's settings drive
  * [[org.apache.spark.mllib.clustering.DriverKMeans]] over points already
  * collected from `sample`, and the result is the `KMeansModel` the stock
  * fit would return — the estimator's params, `parent`, and a summary
  * whose `numIter`/`trainingCost` come from the fit and whose predictions
  * are `transform(sample)` (lazy: nothing runs unless a caller reads
  * them). The stock fit's closing cluster-size job is not run.
  *
  * The replay is the row solver. On inputs where `solver=auto` picks the
  * block solver the centers still match bit for bit; `trainingCost` can
  * then differ from the stock value in the last ulp.
  */
object DriverKMeansFit {

  /** Fit on `sample`'s features column, collected in `sample`'s order. */
  def apply(est: KMeans, sample: DataFrame): KMeansModel =
    apply(est, sample, sample.select(est.getFeaturesCol).collect().map(_.getAs[Vector](0)))

  /** Fit on `points`, which must be `sample`'s features column in order
    * (callers fitting several columns of one sample collect it once). */
  def apply(est: KMeans, sample: DataFrame, points: Array[Vector]): KMeansModel = {
    require(est.getDistanceMeasure == DistanceMeasure.EUCLIDEAN,
      s"driver k-means replays euclidean distance only, not ${est.getDistanceMeasure}")
    require(est.getInitMode == KMeans.K_MEANS_PARALLEL,
      s"driver k-means replays k-means|| init only, not ${est.getInitMode}")
    require(!est.isDefined(est.weightCol) || est.getWeightCol.isEmpty,
      "driver k-means replays unit weights only")
    val fitted = DriverKMeans.fit(points.map(OldVectors.fromML), est.getK, est.getMaxIter,
      est.getSeed, est.getInitSteps, est.getTol)
    val explicit = est.extractParamMap().toSeq.filter(pair => est.isSet(pair.param))
    val model = new KMeansModel(est.uid, fitted).copy(ParamMap(explicit: _*)).setParent(est)
    model.createSummary(sample, fitted.numIter, fitted.trainingCost)
    model
  }
}
