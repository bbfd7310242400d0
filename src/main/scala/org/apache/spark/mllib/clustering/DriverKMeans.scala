package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** In-process replay of MLlib's seeded k-means fit (Spark 4.1.2,
  * `KMeans.runAlgorithmWithWeight` + `initKMeansParallel`, every step
  * checked against the shipped bytecode) for input held in ONE partition:
  * the points are walked in array order, exactly the order a one-partition
  * RDD hands them to every stock job. Settings are the ones the engine
  * fits with: k-means|| init, euclidean distance, unit weights.
  *
  * Why: on a bounded sample the stock fit is bound by fixed per-job cost,
  * not arithmetic. It runs ~7 init jobs, two stages per Lloyd iteration
  * and (ml side) a solver-choice and a cluster-size job — ~45 stages to
  * fit 8 centroids on 2 000 docs. Here the whole fit is driver loops.
  *
  * Bit parity: every value comes from MLlib's own code, called in the
  * stock order — `findClosest`, `pointCost`, `updateClusterSum`,
  * `centroid`, `isCenterConverged`, `computeStatistics` (the distributed
  * variant computes the same per-pair values; the per-center minimum does
  * not depend on their order) and `LocalKMeans.kMeansPlusPlus`. The
  * reductions the stock jobs do across tasks have one task here, so they
  * are the same left folds from 0.0: the cost accumulator, the init
  * step's `costs.sum()` (`fold(0.0)`), and `reduceByKey` over one
  * (sum, weight) pair per cluster (no merge at all). The first center
  * replays `takeSample(false, 1, seed)` on one partition, draw for draw.
  * DriverKMeansSpec pins centers (doubleToLongBits), numIter and cost
  * against the stock `ml.clustering.KMeans.fit` on a one-partition input.
  */
object DriverKMeans {

  /** The stock fit of `points` (ml `KMeans` defaults: initSteps 2, tol
    * 1e-4; the ml estimator validates k, maxIterations and initSteps).
    * Empty input fails loudly, as the stock takeSample check does; fewer
    * distinct points than k yield fewer centers, as stock. */
  def fit(points: Array[Vector], k: Int, maxIterations: Int, seed: Long,
          initSteps: Int = 2, epsilon: Double = 1e-4): KMeansModel = {
    val data = points.map(v => new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0))
    val measure = DistanceMeasure.decodeFromString(DistanceMeasure.EUCLIDEAN)
    val centers = initKMeansParallel(data, k, initSteps, seed, measure)
    val dims = centers.head.vector.size
    val computeStats = DistanceMeasure.shouldComputeStatistics(centers.length)

    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < maxIterations && !converged) {
      val stats = if (computeStats) Some(measure.computeStatistics(centers)) else None
      val sums = Array.fill(centers.length)(Vectors.zeros(dims))
      val clusterWeightSum = new Array[Double](centers.length)
      var costSum = 0.0
      data.foreach { point =>
        val (best, pointCost) = measure.findClosest(centers, stats, point)
        costSum += pointCost * point.weight
        measure.updateClusterSum(point, sums(best))
        clusterWeightSum(best) += point.weight
      }
      converged = true
      var j = 0
      while (j < centers.length) {
        if (clusterWeightSum(j) > 0) {
          val newCenter = measure.centroid(sums(j), clusterWeightSum(j))
          if (converged && !measure.isCenterConverged(centers(j), newCenter, epsilon)) {
            converged = false
          }
          centers(j) = newCenter
        }
        j += 1
      }
      cost = costSum
      iteration += 1
    }
    new KMeansModel(centers.map(_.vector), DistanceMeasure.EUCLIDEAN, cost, iteration)
  }

  /** `initKMeansParallel` with `data` as the one partition (index 0). */
  private def initKMeansParallel(data: Array[VectorWithNorm], k: Int, initSteps: Int,
                                 seed: Long, measure: DistanceMeasure): Array[VectorWithNorm] = {
    var costs = Array.fill(data.length)(Double.PositiveInfinity)
    val sampleSeed = new XORShiftRandom(seed).nextInt()
    val sample = takeOne(data, sampleSeed)
    require(sample.nonEmpty, "No samples available: the k-means fit input is empty")

    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(sample.head.toDense)
    centers ++= newCenters
    var step = 0
    while (step < initSteps) {
      val preCosts = costs
      val stepCenters = newCenters
      costs = Array.tabulate(data.length)(i =>
        math.min(measure.pointCost(stepCenters, data(i)), preCosts(i)))
      val sumCosts = costs.foldLeft(0.0)(_ + _)
      val rand = new XORShiftRandom((sampleSeed ^ (step << 16) ^ 0).toLong)
      val chosen = data.indices.iterator
        .filter(i => rand.nextDouble() < 2.0 * costs(i) * k / sumCosts)
        .map(data(_)).toArray
      newCenters = chosen.map(_.toDense)
      centers ++= newCenters
      step += 1
    }

    val distinctCenters = centers.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray
    if (distinctCenters.length <= k) {
      distinctCenters
    } else {
      val counts = new Array[Long](distinctCenters.length)
      data.foreach(p => counts(measure.findClosest(distinctCenters, p)._1) += 1L)
      LocalKMeans.kMeansPlusPlus(0, distinctCenters, counts.map(_.toDouble), k, 30)
    }
  }

  /** `RDD.takeSample(withReplacement = false, 1, seed)` over one partition:
    * a Bernoulli pass at SamplingUtils' fraction, seeded the way
    * `PartitionwiseSampledRDD` seeds partition 0, repeated until non-empty,
    * then shuffled by the same `java.util.Random`. */
  private def takeOne(data: Array[VectorWithNorm], seed: Long): Array[VectorWithNorm] = {
    if (data.isEmpty) return Array.empty
    val rand = new java.util.Random(seed)
    if (data.length <= 1) return Utils.randomizeInPlace(data.clone(), rand)
    val fraction = SamplingUtils.computeFractionForSampleSize(1, data.length.toLong,
      withReplacement = false)
    def draw(): Array[VectorWithNorm] = {
      val sampler = new BernoulliSampler[VectorWithNorm](fraction)
      sampler.setSeed(new java.util.Random(rand.nextInt().toLong).nextLong())
      sampler.sample(data.iterator).toArray
    }
    var samples = draw()
    while (samples.isEmpty) samples = draw()
    Utils.randomizeInPlace(samples, rand).take(1)
  }
}
