package graft.cluster

import graft.SparkSpec
import graft.io.Tables
import graft.similarity.ArrayOps
import graft.text.{FeatureConfig, FeaturePipeline}
import org.apache.spark.ml.clustering.{DriverKMeansFit, KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver k-means replay must BE the stock MLlib fit on the same
  * sample in one partition: centers equal on Double.doubleToLongBits,
  * numIter equal, trainingCost equal to 1e-12 relative (the stock
  * `solver=auto` may take its block solver, whose cost sum can differ in
  * the last ulp). Both sides fit the same hash-ordered bounded sample. */
class DriverKMeansSpec extends SparkSpec {
  import spark.implicits._

  private def estimator(k: Int, maxIter: Int, seed: Long = 12345L,
                        featuresCol: String = "features") =
    new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed).setFeaturesCol(featuresCol)

  private def assertParity(df: DataFrame, orderCol: String, est: KMeans): KMeansModel = {
    val stock = Clustering.sampleFit(df, Some(orderCol), 1 << 17)(est.fit(_))
    val driver = DriverKMeansFit(est, Clustering.fitSample(df, orderCol, 1 << 17))
    def bits(m: KMeansModel) =
      m.clusterCenters.toSeq.map(_.toArray.toSeq.map(java.lang.Double.doubleToLongBits))
    assert(bits(driver) == bits(stock), "centers differ from the stock fit")
    assert(driver.summary.numIter == stock.summary.numIter)
    val (c, s) = (driver.summary.trainingCost, stock.summary.trainingCost)
    assert(math.abs(c - s) <= 1e-12 * math.abs(s), s"trainingCost $c vs stock $s")
    assert(driver.getK == est.getK && driver.getFeaturesCol == est.getFeaturesCol &&
      driver.parent == est)
    driver
  }

  private lazy val tfidf = FeaturePipeline.features(Tables.documents(spark, sfDir),
      FeatureConfig(numTextFeatures = 1024))
    .select("doc_id", "features")

  private lazy val embedded = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))

  test("sparse TF-IDF fits (k=8, maxIter 10 and 20) equal the stock fit") {
    for (maxIter <- Seq(10, 20)) assertParity(tfidf, "doc_id", estimator(8, maxIter))
  }

  test("the Ivf shape (64-d embeddings, k=16) equals the stock fit") {
    assertParity(embedded.withColumn("mlv", array_to_vector(col("v"))), "vec_id",
      estimator(16, 20, featuresCol = "mlv"))
  }

  test("the Pq subspace fits (m=4, k=20 on ±1 slices) equal the stock fits") {
    val signs = transform(slice(col("v"), 1, 16), x => when(x >= 0, 1.0).otherwise(-1.0))
    val sliced = embedded.select((col("vec_id") +: (0 until 4).map(j =>
      array_to_vector(slice(signs, j * 4 + 1, 4)).as(s"sub$j"))): _*)
    for (j <- 0 until 4)
      assertParity(sliced, "vec_id", estimator(20, 20, 12345L + j, s"sub$j"))
  }

  test("fewer distinct points than k give the stock fit's fewer centers") {
    val df = Seq.tabulate(9)(i => (i.toLong, Vectors.dense(i % 3, (i % 3) * 2.0)))
      .toDF("id", "features")
    val m = assertParity(df, "id", estimator(5, 10))
    assert(m.clusterCenters.length == 3)
  }

  test("a 1-row sample fits its one point") {
    // stock solver=auto takes the block solver on this dense input, which
    // throws on one center for k=2; the replay is the row solver
    val df = Seq((7L, Vectors.dense(1.5, -2.0))).toDF("id", "features")
    val m = assertParity(df, "id", estimator(2, 10).setSolver("row"))
    assert(m.clusterCenters.toSeq.map(_.toArray.toSeq) == Seq(Seq(1.5, -2.0)))
  }

  test("an empty sample fails loudly") {
    val empty = Seq((1L, Vectors.dense(1.0))).toDF("id", "features").filter(lit(false))
    val e = intercept[IllegalArgumentException](
      DriverKMeansFit(estimator(2, 10), Clustering.fitSample(empty, "id", 100)))
    assert(e.getMessage.contains("empty"))
  }
}
