package perfbench

import graft.GraftSession
import graft.candidates.{CandidateConfig, Candidates}
import graft.cluster.Clustering
import graft.dedup.MinHashDedup
import graft.graph.GraphOps
import graft.io.Tables
import graft.post.Post
import graft.similarity.Kernels
import graft.text.{FeatureConfig, FeaturePipeline, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The mains' steps, one span each. Every step calls the same public
  * functions with the same parameters, in the same order, as
  * `BillMatch.main` (kmeans blocking) and `CorpusBuild.main`, and
  * materializes its output (persist + count) inside its span, so a lazy plan
  * is charged to the step that built it rather than to the first action
  * downstream. The outputs land in `outDir` exactly like the main's and are
  * checked against them.
  *
  * `wallSeconds` covers session creation to `spark.stop()`, both in spans
  * of their own ("session"). Statistics the main does not compute (recall,
  * block shares, nnz) run after the last step under their own job label and
  * are excluded from it. */
final class TracedRun(val tracer: Tracer) {
  var wallSeconds = 0.0
  val stats = scala.collection.mutable.LinkedHashMap.empty[String, Double]
}

object Traced {
  val statsLabel = "perfbench.stats"

  /** persist + count, unless the frame is already marked cached (then count). */
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK) else df
    (p, p.count())
  }

  private def run(w: Workload, runId: String)(
      body: (SparkSession, TracedRun) => () => Unit): TracedRun = {
    val tr = new TracedRun(new Tracer(runId, w.name))
    val t0 = System.nanoTime()
    val spark = tr.tracer.span("session")(GraftSession.local())
    val statsFn = body(spark, tr)
    val tMain = System.nanoTime()
    spark.sparkContext.setJobDescription(statsLabel)
    statsFn()
    spark.sparkContext.setJobDescription(null)
    val tStop = System.nanoTime()
    tr.tracer.span("session")(spark.stop())
    tr.wallSeconds = ((tMain - t0) + (System.nanoTime() - tStop)) / 1e9
    tr
  }

  def apply(w: Workload, corpusDir: String, outDir: String, truthDir: String,
            runId: String): TracedRun = w.main match {
    case "BillMatch" => run(w, runId)(billMatch(corpusDir, outDir, truthDir))
    case "CorpusBuild" => run(w, runId)(corpusBuild(corpusDir, outDir))
  }

  /** BillMatch.main with kmeans blocking (BillMatch.scala:44-102). */
  private def billMatch(sfDir: String, outDir: String, truthDir: String)(
      spark: SparkSession, tr: TracedRun): () => Unit = {
    val sc = spark.sparkContext
    val t = tr.tracer
    // counted, not persisted: features over the persisted spread output give
    // a different k-means fit than the main's (a 1992-doc block instead of
    // 1478 + 488 on one seed), so the read is re-run lazily downstream
    val (docs, nDocsRead) = t.step(sc, "io.read") {
      val docs = Tables.spread(Tables.documents(spark, sfDir))
      (docs, docs.count())
    }
    val (feats, _) = t.step(sc, "text.features") {
      materialize(FeaturePipeline.features(docs, FeatureConfig(numTextFeatures = 1024))
        .select("doc_id", "lang", "n_chars", "features")
        .cache())
    }
    val (model, clustered) = t.step(sc, "cluster.kmeans") {
      val (model, clustered) = Clustering.kmeans(feats, k = Workloads.k, maxIter = 20)
      (model, materialize(clustered)._1)
    }
    val (pairs, nCandidates) = t.step(sc, "candidates.pairs") {
      materialize(Candidates.pairs(clustered, CandidateConfig(
        keyCol = "doc_id", groupCol = "lang", blockCol = Some("prediction"),
        lengthCol = Some("n_chars"), maxLengthRatio = 0.26)))
    }
    val (simsP, nSims) = t.step(sc, "similarity.score") {
      val kernel = Kernels.udfFor(Workloads.measure)
      materialize(Candidates.attachBothSides(pairs,
          clustered.select(col("doc_id"), col("features")), "doc_id", "features")
        .select(col("pk1"), col("pk2"),
          kernel(col("features_1"), col("features_2")).as("similarity"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    }
    val (top, _) = t.step(sc, "post.topk") {
      materialize(Post.topK(simsP, Workloads.topK).cache())
    }
    t.step(sc, "io.write") { top.write.mode("overwrite").parquet(s"$outDir/pairs.parquet") }

    val edges = top.select(col("pk1").as("src"), col("pk2").as("dst"))
    val canonical = GraphOps.canonicalEdges(edges, "src", "dst")
    val (pr, _) = t.step(sc, "graph.pagerank") {
      materialize(GraphOps.pageRankDF(canonical, numIter = 10))
    }
    val (tri, _) = t.step(sc, "graph.triangles") {
      materialize(GraphOps.triangleCounts(canonical))
    }
    t.step(sc, "io.write") {
      pr.join(tri, Seq("vertex"), "outer")
        .write.mode("overwrite").parquet(s"$outDir/graph.parquet")
    }

    t.step(sc, "post.summary") { // the main's closing counts and preview
      docs.count()
      simsP.count()
      top.limit(5).collect()
      simsP.unpersist()
    }

    () => {
      val s = tr.stats
      s("docs") = nDocsRead.toDouble
      s("candidates") = nCandidates.toDouble
      s("sims") = nSims.toDouble
      s("kmeans.iterations") = model.summary.numIter.toDouble
      s("kmeans.max_block") = clustered.groupBy("prediction").count()
        .agg(max("count")).head().getLong(0).toDouble
      val nnz = udf((v: org.apache.spark.ml.linalg.Vector) => v.numNonzeros.toLong)
      s("features.nnz") = feats.select(sum(nnz(col("features")))).head().getLong(0).toDouble
      s("cross_state_pairs") = crossStatePairs(docs)
      val planted = plantedPairs(spark, truthDir)
      s("planted") = planted.count().toDouble
      s("planted_kept") = pairs.join(planted, Seq("pk1", "pk2")).count().toDouble
    }
  }

  /** Σ over state pairs of n_a · n_b: every unordered cross-state pair. */
  private def crossStatePairs(docs: DataFrame): Double = {
    val counts = docs.groupBy("lang").count().collect().map(_.getLong(1).toDouble)
    (counts.sum * counts.sum - counts.map(c => c * c).sum) / 2
  }

  private def plantedPairs(spark: SparkSession, truthDir: String): DataFrame =
    spark.read.schema("pk1 LONG, pk2 LONG").option("sep", "\t")
      .csv(s"$truthDir/planted_pairs.tsv")

  /** CorpusBuild.build + CorpusBuild.main (CorpusBuild.scala:49-118), default
    * Config. */
  private def corpusBuild(sfDir: String, outDir: String)(
      spark: SparkSession, tr: TracedRun): () => Unit = {
    val sc = spark.sparkContext
    val t = tr.tracer
    val cfg = graft.CorpusBuild.Config()
    val (docs, nDocs) = t.step(sc, "io.read") { materialize(Tables.documents(spark, sfDir)) }
    val (gated, nGated) = t.step(sc, "text.gate") {
      materialize(docs
        .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
        .filter(col("n_tok").between(cfg.minTok, cfg.maxTok)))
    }
    val (exact, nExact) = t.step(sc, "dedup.exact") {
      materialize(MinHashDedup.dedupExact(gated, "doc_id", "text"))
    }
    val (deduped, nPairs, nDeduped) = t.step(sc, "dedup.near") {
      val (pairs, nPairs) = materialize(MinHashDedup.nearDupPairs(exact,
        MinHashDedup.Config(jaccardThreshold = cfg.jaccardThreshold)))
      val (deduped, n) = materialize(exact.join(
        pairs.select(col("d2").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
      (deduped, nPairs, n)
    }
    val (corpus, _) = t.step(sc, "text.decontam") {
      val bench = docs.filter(col("doc_id") % cfg.evalMod === 0)
        .select(explode(array_distinct(
          TextOps.ngrams(TextOps.tokens(col("text")), 4))).as("g"))
        .distinct()
      val contaminated = deduped
        .filter(col("doc_id") % cfg.evalMod =!= 0)
        .select(col("doc_id"),
          explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
        .join(broadcast(bench), "g")
        .select("doc_id").distinct()
      val clean = deduped
        .filter(col("doc_id") % cfg.evalMod =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
      materialize(clean.withColumn("split", splitLabel(col("doc_id")))
        .select("doc_id", "lang", "source", "n_tok", "split", "text"))
    }
    t.step(sc, "io.write") {
      corpus.write.mode("overwrite").partitionBy("split")
        .parquet(s"$outDir/corpus.parquet")
      val report = corpus.groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split", "lang")
      report.write.mode("overwrite").parquet(s"$outDir/report.parquet")
      report.collect()
    }
    corpus.unpersist()

    () => {
      val s = tr.stats
      s("docs") = nDocs.toDouble
      s("gated") = nGated.toDouble
      s("exact") = nExact.toDouble
      s("near_pairs") = nPairs.toDouble
      s("deduped") = nDeduped.toDouble
    }
  }

  /** Copy of CorpusBuild's private split label: 48-bit md5 bucket in
    * [0, 10), 0-7 train, 8 val, 9 test. The checks compare the traced
    * output with the main's, so a drift between the two fails the run. */
  private def splitLabel(id: Column): Column = {
    val b = conv(substring(md5(id.cast("string").cast("binary")), 1, 12), 16, 10)
      .cast("long") % 10
    when(b < 8, "train").when(b === 8, "val").otherwise("test")
  }
}
