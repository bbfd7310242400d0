package graft

import graft.candidates.{CandidateConfig, Candidates}
import graft.cluster.Clustering
import graft.graph.GraphOps
import graft.io.Tables
import graft.post.Post
import graft.similarity.BlockScore
import graft.text.{FeatureConfig, FeaturePipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable end-to-end bill-match pipeline — the engine's single-command
  * replacement for the reference's ExtractCandidates → (14× sharded)
  * BillAnalyzer → HarvestOutput → Postprocessor chain plus the spark-shell
  * graph session (reference wrapper_workflow1.py:10-21, docs/graphFrameTest.md):
  * one declarative plan, runtime-configurable (the reference required
  * `sbt assembly` per config change — compiled-in HOCON).
  *
  * Usage: runMain graft.BillMatch [sfDir] [outDir] [measure] [k] [topK] [blocking]
  *   measure  ∈ cosine|manhattan|hamming|jaccard|maxasymjaccard|
  *              weighted_jaccard|left_jaccard|right_jaccard|dense_jaccard
  *   blocking ∈ kmeans (workflow 1) | minhash (workflow 2: the reference's
  *              ExtractMinHashLSH — ONE corpus-wide LSH join with the
  *              cross-group constraint as a join predicate, replacing its
  *              1225 driver-side per-state-pair jobs)
  *
  * Writes:
  *   outDir/pairs.parquet — top-K similarity pairs (pk1 < pk2, numeric ids;
  *     reference-style string keys would add Post.imposeCanonicalOrder here)
  *   outDir/graph.parquet — per-vertex pagerank/triangles over the match graph
  * and prints a run summary.
  */
object BillMatch {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try run(spark, args) finally spark.stop()
  }

  /** The whole pipeline on a caller-owned session, which stays open. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir   = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outDir  = args.lift(1).getOrElse("/tmp/billmatch_out")
    val measure  = args.lift(2).getOrElse("cosine")
    val k        = args.lift(3).map(_.toInt).getOrElse(8)
    val topK     = args.lift(4).map(_.toInt).getOrElse(100)
    val blocking = args.lift(5).getOrElse("kmeans")

    // corpus spread across partitions (single-file testdata artifact)
    val docs = Tables.spread(Tables.documents(spark, sfDir))

    // the top-K pairs, the doc and pair counts, and the frames released at
    // the end
    val (top, nDocs, nPairs, cached) = blocking match {
      case "minhash" =>
        // workflow 2: binary TF features (set semantics) → one corpus-wide
        // MinHash LSH join → cross-lang predicate → scaled similarity
        // (reference's F6 scaler: 100 − 100·distance)
        val tf = FeaturePipeline.features(docs,
          FeatureConfig(numTextFeatures = 1 << 16, useIdf = false))
          .select("doc_id", "lang", "features")
        val langs = tf.select(col("doc_id"), col("lang"))
        // persisted once: top-K, the graph edges and the pair count all reuse
        // it instead of re-running the join
        val sims = graft.lsh.LshJoins.minHashSelfJoin(
            tf.select("doc_id", "features"), "doc_id", "features",
            threshold = 0.95, numTables = 32)
          .join(langs.select(col("doc_id").as("pk1"), col("lang").as("l1")), "pk1")
          .join(langs.select(col("doc_id").as("pk2"), col("lang").as("l2")), "pk2")
          .filter(col("l1") =!= col("l2"))
          .select(col("pk1"), col("pk2"),
            ((lit(1.0) - col("jaccard_dist")) * 100.0).as("similarity"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val top = Post.topK(sims, topK).cache()
        (top, docs.count(), sims.count(), List(sims, top))
      case _ =>
        // workflow 1:
        // 1. features (clean → tokenize → stopwords → TF-IDF)
        val feats = FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = 1024))
          .select("doc_id", "lang", "n_chars", "features")
          .cache()
        // 2. k-means blocking (the reference's ~27× all-pairs cut)
        val (model, clustered) = Clustering.kmeans(feats, k = k, maxIter = 20)
        println(f"[billmatch] kmeans wssse=${model.summary.trainingCost}%.3e")
        // 3-5. within each block, the cross-lang, length-banded pk1 < pk2
        //    pairs scored and ranked in one pass; top is a local frame
        val scored = BlockScore.topK(clustered, CandidateConfig(
          keyCol = "doc_id", groupCol = "lang", blockCol = Some("prediction"),
          lengthCol = Some("n_chars"), maxLengthRatio = 0.26), "features", measure, topK)
        feats.unpersist()
        (scored.top, scored.rows, scored.pairs, Nil)
    }
    // The candidate pairs are pk1 < pk2, which IS canonical order for numeric
    // doc ids — Post.imposeCanonicalOrder's state-token reorder applies to
    // the reference's "STATE_year_docid" string keys, not here.
    top.write.mode("overwrite").parquet(s"$outDir/pairs.parquet")

    // 6. graph stage: pagerank + triangles over the top matches
    val edges = top.select(col("pk1").as("src"), col("pk2").as("dst"))
    val canonical = GraphOps.canonicalEdges(edges, "src", "dst")
    val pr = GraphOps.pageRankDF(canonical, numIter = 10)
    val tri = GraphOps.triangleCounts(canonical)
    val graphStats = pr.join(tri, Seq("vertex"), "outer")
    graphStats.write.mode("overwrite").parquet(s"$outDir/graph.parquet")

    val topRows = top.limit(5).collect()
    cached.foreach(_.unpersist())
    println(s"[billmatch] docs=$nDocs pairs=$nPairs blocking=$blocking measure=$measure k=$k")
    topRows.foreach(r => println(s"[billmatch] top: $r"))
    println(s"[billmatch] wrote $outDir/pairs.parquet and $outDir/graph.parquet")
  }
}
