package graft.cluster

import graft.SparkSpec
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.functions._

/** K-means / LDA / LSA blocking operators (SURVEY M8-M10). */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // Two well-separated blobs in 4-d.
  private lazy val blobs = (
    (0 until 10).map(i => (s"a$i", Vectors.dense(10.0 + i * 0.1, 10.0, 0.0, 0.0))) ++
      (0 until 10).map(i => (s"b$i", Vectors.dense(0.0, 0.0, 10.0 + i * 0.1, 10.0)))
    ).toDF("pk", "features")

  test("kmeans separates well-separated blobs and is seed-deterministic") {
    val (_, c1) = Clustering.kmeans(blobs, k = 2, maxIter = 10)
    val labels = c1.select("pk", "prediction").as[(String, Int)].collect().toMap
    val aLabels = labels.filter(_._1.startsWith("a")).values.toSet
    val bLabels = labels.filter(_._1.startsWith("b")).values.toSet
    assert(aLabels.size == 1 && bLabels.size == 1 && aLabels != bLabels)

    val (_, c2) = Clustering.kmeans(blobs, k = 2, maxIter = 10)
    assert(c2.select("pk", "prediction").as[(String, Int)].collect().toMap == labels)
  }

  test("fitOrderCol makes the fit partition-layout-invariant (r11)") {
    // the deterministic sample fit must produce BIT-IDENTICAL centers no
    // matter how the input happens to be partitioned — the property the
    // repeat gate enforces end-to-end and the q_kmeans_blocks flake lacked.
    // Keys here sort lexicographically; a real corpus passes its id column.
    val embedded = graft.io.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        org.apache.spark.ml.functions.array_to_vector(col("embedding"))
          .as("features"))
    def centers(df: org.apache.spark.sql.DataFrame): Seq[Seq[Double]] = {
      val (m, _) = Clustering.kmeans(df, k = 4, maxIter = 10,
        fitOrderCol = Some("vec_id"))
      m.clusterCenters.toSeq.map(_.toArray.toSeq)
    }
    val a = centers(embedded.repartition(32))
    val b = centers(embedded.repartition(3).sortWithinPartitions(desc("vec_id")))
    assert(a == b, "sample-fit centers differ across input layouts")
  }

  test("a fit with no order column is the same at any partition count") {
    // the fit sample is then ordered by the vectors' own hash, so the
    // point sequence (and with it every float sum) does not depend on how
    // the input is split; a distributed fit's sums follow the split
    val feats = graft.text.FeaturePipeline.features(graft.io.Tables.documents(spark, sfDir),
        graft.text.FeatureConfig(numTextFeatures = 1024))
      .select("doc_id", "features").cache()
    def centerBits(parts: Int): Seq[Seq[Long]] =
      Clustering.kmeans(feats.repartition(parts), k = 8, maxIter = 20)._1
        .clusterCenters.toSeq.map(_.toArray.toSeq.map(java.lang.Double.doubleToLongBits))
    try {
      val one = centerBits(1)
      for (parts <- Seq(3, 7))
        assert(centerBits(parts) == one, s"centers at $parts partitions differ from 1")
    } finally { feats.unpersist(); () }
  }

  test("kmeans model exposes WSSSE via summary.trainingCost") {
    val (model, _) = Clustering.kmeans(blobs, k = 2, maxIter = 10)
    assert(model.summary.trainingCost >= 0.0)
    assert(model.clusterCenters.length == 2)
  }

  test("lda yields k topics and argmax prediction column") {
    val docs = Seq(
      ("d1", Vectors.sparse(8, Array(0, 1, 2), Array(5.0, 4.0, 3.0))),
      ("d2", Vectors.sparse(8, Array(0, 1, 3), Array(4.0, 5.0, 2.0))),
      ("d3", Vectors.sparse(8, Array(5, 6, 7), Array(5.0, 4.0, 3.0))),
      ("d4", Vectors.sparse(8, Array(4, 6, 7), Array(3.0, 5.0, 4.0)))
    ).toDF("pk", "features")
    val (model, out) = Clustering.lda(docs, k = 2, maxIter = 15)
    assert(model.describeTopics(3).count() == 2)
    val preds = out.select("prediction").as[Int].collect()
    assert(preds.forall(p => p == 0 || p == 1))
    val dist = out.select("topicDistribution").head().getAs[Vector](0)
    assert(math.abs(dist.toArray.sum - 1.0) < 1e-6)
  }

  test("lda prediction as blockCol partitions the candidate pairs by topic") {
    // workflow-3 shape (reference LDAAnalyzer.scala:109-116): LDA argmax topic
    // is the blocking key; every candidate pair must share a topic block.
    val docs = Seq(
      ("d1", "us", Vectors.sparse(8, Array(0, 1, 2), Array(5.0, 4.0, 3.0))),
      ("d2", "fr", Vectors.sparse(8, Array(0, 1, 3), Array(4.0, 5.0, 2.0))),
      ("d3", "us", Vectors.sparse(8, Array(5, 6, 7), Array(5.0, 4.0, 3.0))),
      ("d4", "fr", Vectors.sparse(8, Array(4, 6, 7), Array(3.0, 5.0, 4.0)))
    ).toDF("pk", "lang", "features")
    val (_, topical) = Clustering.lda(docs, k = 2, maxIter = 15)
    // argmax label is total: every doc lands in exactly one block
    val labels = topical.select("pk", "prediction").as[(String, Int)].collect().toMap
    assert(labels.size == 4 && labels.values.forall(p => p == 0 || p == 1))
    val pairs = graft.candidates.Candidates.pairs(topical,
      graft.candidates.CandidateConfig(
        keyCol = "pk", groupCol = "lang", blockCol = Some("prediction")))
      .as[(String, String)].collect()
    // blocking invariant: pairs only within a topic block (and across langs)
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) })
  }

  test("lsaProject preserves keys and row count, output dim = numConcepts") {
    val out = Clustering.lsaProject(blobs, numConcepts = 2)
    assert(out.count() == 20)
    assert(out.columns.contains("pk") && out.columns.contains("lsa_features"))
    val v = out.select("lsa_features").head().getAs[Vector](0)
    assert(v.size == 2)
  }

  test("lsaProject separates the blobs in concept space") {
    val out = Clustering.lsaProject(blobs, numConcepts = 2)
      .select(col("pk"), col("lsa_features"))
      .as[(String, Vector)].collect()
    // within-group distances must be far smaller than cross-group
    def d(x: Vector, y: Vector) = math.sqrt(
      x.toArray.zip(y.toArray).map { case (a, b) => (a - b) * (a - b) }.sum)
    val byPk = out.toMap
    val within = d(byPk("a0"), byPk("a9"))
    val cross = d(byPk("a0"), byPk("b0"))
    assert(cross > 10 * within)
  }
}
