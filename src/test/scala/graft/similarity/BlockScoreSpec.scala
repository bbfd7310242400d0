package graft.similarity

import graft.SparkSpec
import graft.candidates.{CandidateConfig, Candidates}
import graft.cluster.Clustering
import graft.io.Tables
import graft.post.Post
import graft.text.{FeatureConfig, FeaturePipeline}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** [[BlockScore]] against the DataFrame chain it replaces in workflow 1:
  * `Candidates.pairs` → `attachBothSides` → `Kernels.udfFor` → `Post.topK`.
  * Every measure must give the same pair count and the same top-K rows,
  * similarities bit for bit, whole blocks or tiled, at any partition count. */
class BlockScoreSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CandidateConfig(keyCol = "doc_id", groupCol = "lang",
    blockCol = Some("prediction"), lengthCol = Some("n_chars"), maxLengthRatio = 0.26)

  /** (pk1, pk2, similarity bits), NaN canonical. */
  private type Top = Seq[(Long, Long, Int)]

  private def rows(df: DataFrame): Top = df.collect().toSeq.map(r =>
    (r.getLong(0), r.getLong(1), java.lang.Float.floatToIntBits(r.getFloat(2))))

  /** The pair count and the top `k` of the replaced chain. */
  private def reference(df: DataFrame, measure: String, k: Int,
                        cfg: CandidateConfig = cfg): (Long, Top) = {
    val sims = Candidates.attachBothSides(Candidates.pairs(df, cfg),
        df.select("doc_id", "features"), "doc_id", "features")
      .select(col("pk1"), col("pk2"),
        Kernels.udfFor(measure)(col("features_1"), col("features_2")).as("similarity"))
    (sims.count(), rows(Post.topK(sims, k)))
  }

  private def kernel(df: DataFrame, measure: String, k: Int, tileRows: Int,
                     cfg: CandidateConfig = cfg): (Long, Top) = {
    val s = BlockScore.run(df, cfg, "features", measure, k, tileRows)
    (s.pairs, rows(s.top))
  }

  /** sf0.001's workflow-1 input: TF-IDF features and k-means blocks. */
  private lazy val clustered: DataFrame = {
    val feats = FeaturePipeline.features(Tables.documents(spark, sfDir),
        FeatureConfig(numTextFeatures = 1024))
      .select("doc_id", "lang", "n_chars", "features")
    val blocked = Clustering.kmeans(feats, k = 8, maxIter = 20)._2
      .select("doc_id", "lang", "n_chars", "features", "prediction")
    spark.createDataFrame(java.util.Arrays.asList(blocked.collect(): _*), blocked.schema)
  }

  /** 240 rows: a 180-row block (five chunks of 40, fifteen tiles), a 50-row
    * and a 10-row block. Vectors come from six templates, so similarities
    * tie; one template is the zero vector (cosine NaN). Lengths pass the
    * band in most pairs, one is 0 (an empty text), and some rows have a
    * null lang or a null length. Keys are scattered, some negative. */
  private lazy val skewed: DataFrame = {
    val rnd = new scala.util.Random(7)
    val templates = Seq(
      Vectors.sparse(32, Array(1, 4, 9), Array(1.0, 2.0, 3.0)),
      Vectors.sparse(32, Array(1, 4, 9, 16), Array(1.0, 2.0, 3.0, 0.5)),
      Vectors.sparse(32, Array(2, 3), Array(4.0, 1.0)),
      Vectors.sparse(32, Array.empty[Int], Array.empty[Double]),
      Vectors.sparse(32, Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11),
        Array.tabulate(12)(i => (i % 3) + 1.0)),
      Vectors.dense(Array.tabulate(32)(i => if (i % 5 == 0) 1.0 else 0.0)))
    val ids = rnd.shuffle((-60L until 900L by 4L).toVector).take(240)
    ids.zipWithIndex.map { case (id, i) =>
      val block = if (i < 180) 0 else if (i < 230) 1 else 2
      val lang = if (i % 37 == 5) None else Some(Seq("FL", "SC", "MI")(rnd.nextInt(3)))
      val len = if (i % 41 == 7) None else Some(Seq(0L, 90L, 100L, 110L, 120L)(rnd.nextInt(5)))
      (id, lang, len, templates(rnd.nextInt(templates.size)), block)
    }.toDF("doc_id", "lang", "n_chars", "features", "prediction")
  }

  test("every measure matches the DataFrame chain on sf0.001, whole and tiled") {
    val k = 100
    for (measure <- Kernels.byName.keys.toSeq.sorted) {
      val want = reference(clustered, measure, k)
      assert(want._1 > k, s"$measure: sf0.001 gives only ${want._1} pairs")
      assert(kernel(clustered, measure, k, BlockScore.TileRows) == want, measure)
      assert(kernel(clustered, measure, k, 16) == want, s"$measure, 16-row tiles")
    }
  }

  test("every measure matches on a skewed block larger than one tile, with ties, " +
      "a zero vector, an empty text and null fields") {
    for (measure <- Kernels.byName.keys.toSeq.sorted) {
      val (n, all) = reference(skewed, measure, Int.MaxValue)
      assert(n == all.size && n > 1000, s"$measure: $n pairs")
      assert(kernel(skewed, measure, Int.MaxValue, 40) == (n, all), s"$measure, all pairs")
      assert(kernel(skewed, measure, 17, 40) == reference(skewed, measure, 17), s"$measure, top 17")
    }
    val (_, cosine) = kernel(skewed, "cosine", 30, 40)
    assert(java.lang.Float.isNaN(java.lang.Float.intBitsToFloat(cosine.head._3)),
      "the zero vector's NaN cosine does not rank first")
    assert(cosine.map(_._3).distinct.size < cosine.size, "no similarity ties in the top 30")
  }

  test("with no length band, every measure matches the chain, whole and tiled") {
    // workflow 3's form (q_lda_candidates): block and group only
    val unbanded = cfg.copy(lengthCol = None)
    for ((df, k) <- Seq(clustered -> 100, skewed -> 60)) {
      assert(reference(df, "cosine", k, unbanded)._1 > reference(df, "cosine", k)._1,
        "the length band drops no pair here")
      for (measure <- Kernels.byName.keys.toSeq.sorted) {
        val want = reference(df, measure, k, unbanded)
        assert(kernel(df, measure, k, BlockScore.TileRows, unbanded) == want, measure)
        assert(kernel(df, measure, k, 40, unbanded) == want, s"$measure, 40-row tiles")
      }
    }
  }

  test("the result does not depend on the partition count, and rows counts every input row") {
    val want = kernel(skewed, "cosine", 50, 40)
    for (n <- Seq(1, 3, 8)) withConf(Seq("spark.sql.shuffle.partitions" -> n.toString)) {
      assert(kernel(skewed, "cosine", 50, 40) == want, s"$n partitions")
    }
    assert(BlockScore.run(skewed, cfg, "features", "cosine", 5, 40).rows == skewed.count())
  }
}
