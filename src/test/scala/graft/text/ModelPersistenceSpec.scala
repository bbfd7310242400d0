package graft.text

import graft.SparkSpec
import graft.io.Tables
import org.apache.spark.ml.clustering.KMeansModel

/** Model save/load round-trips — the reference persisted its LSH model
  * (CustomizedMinHashLSH.scala:154-183); here the MinHash LSH index and the
  * k-means blocking model must persist and reproduce their transforms
  * exactly. */
class ModelPersistenceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("MinHash LSH index save/load reproduces the approx self-join exactly " +
      "(reference CustomizedMinHashLSH.scala:154-183)") {
    import graft.lsh.LshJoins
    val docs = Tables.documents(spark, dir).limit(100)
    val feats = FeaturePipeline.features(docs,
        FeatureConfig(numTextFeatures = 256, useIdf = false))
      .select("doc_id", "features").cache()
    val index = LshJoins.fitMinHashIndex(feats, "features", threshold = 0.9)
    val path = "/tmp/graft_test_minhash_index"
    LshJoins.saveMinHashIndex(index, path)
    val reloaded = LshJoins.loadMinHashIndex(spark, path)
    assert(reloaded.threshold == 0.9)
    def rows(ix: LshJoins.MinHashIndex) =
      ix.selfJoin(feats, "doc_id", "features")
        .select("pk1", "pk2", "jaccard_dist", "asym_jaccard_dist")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val a = rows(index)
    val b = rows(reloaded)
    assert(a.nonEmpty, "fixture produced no candidate pairs — vacuous")
    assert(a == b, "persisted hash functions must reproduce the join bit-for-bit")
    // and the inline-fit path with the same params agrees too
    val inline = LshJoins.minHashSelfJoin(feats, "doc_id", "features",
        threshold = 0.9)
      .select("pk1", "pk2", "jaccard_dist", "asym_jaccard_dist")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(a == inline)
  }

  test("KMeans blocking model save/load predicts identically") {
    val docs = Tables.documents(spark, dir).limit(100)
    val feats = FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = 256))
      .select("doc_id", "features").cache()
    val (model, clustered) = graft.cluster.Clustering.kmeans(feats, k = 4, maxIter = 5)
    val path = "/tmp/graft_test_kmeans_model"
    model.write.overwrite().save(path)
    val reloaded = KMeansModel.load(path)
    val a = clustered.select("doc_id", "prediction").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = reloaded.transform(feats).select("doc_id", "prediction").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a == b)
  }
}
