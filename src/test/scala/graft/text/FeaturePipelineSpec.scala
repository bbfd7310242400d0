package graft.text

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

/** The TF(-IDF) feature pipeline (SURVEY M1-M7). */
class FeaturePipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog every single morning"),
    (2L, "the lazy dog sleeps while the quick brown fox keeps jumping around"),
    (3L, "completely unrelated legal document about taxation revenue statutes")
  ).toDF("doc_id", "text")

  test("HashingTF+IDF path produces nonzero sparse vectors of declared size") {
    val out = FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = 256))
    val vecs = out.select("features").collect().map(_.getAs[Vector](0))
    assert(vecs.length == 3)
    assert(vecs.forall(_.size == 256))
    assert(vecs.forall(_.numNonzeros > 0))
    // intermediate columns dropped
    assert(out.columns.toSet == Set("doc_id", "text", "features"))
  }

  test("IDF downweights terms present in all docs") {
    val n = 1 << 18 // no bucket collision among these few terms
    val out = FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = n))
    val vecs = out.orderBy("doc_id").select("features").collect().map(_.getAs[Vector](0))
    assert(vecs.forall(v => v.toArray.forall(_ >= 0.0)))
    // "quick" appears in 2 of the 3 docs, "taxation" in 1: idf log(4/3) < log(4/2)
    def weight(doc: Int, term: String) = vecs(doc)(Murmur3.bucket(term, n))
    assert(weight(0, "quick") == math.log(4.0 / 3.0))
    assert(weight(2, "taxation") == math.log(4.0 / 2.0))
  }

  test("stemming-free pipeline is deterministic across fits") {
    val a = FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = 128))
      .select("features").collect().map(_.getAs[Vector](0).toArray.toSeq)
    val b = FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = 128))
      .select("features").collect().map(_.getAs[Vector](0).toArray.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
