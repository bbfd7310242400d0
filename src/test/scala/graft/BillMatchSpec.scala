package graft

import java.nio.file.Files

/** The runnable [[BillMatch]] pipeline (k-means blocking) on the shared
  * session: the graph output ranks exactly the top-K pair endpoints, every
  * rank is a finite positive number, and the session is still usable after
  * the run, with no RDD or plan left cached. */
class BillMatchSpec extends SparkSpec {

  test("kmeans run writes a graph over exactly the top-K endpoints and keeps the session") {
    val out = Files.createTempDirectory("billmatch-spec").toString
    try check(out)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** Workflow 2. No cache assertion here: the LSH self-join persists its
    * hashed frame by design (LshJoins.selfJoinOnSets: three plan branches
    * reuse it and the returned lazy frame still references it, so the
    * caller owns its release). */
  test("minhash run keeps pk1 < pk2, similarities in [0, 100], and the session") {
    val out = Files.createTempDirectory("billmatch-spec-minhash").toString
    try {
      BillMatch.run(spark, Array(sfDir, out, "jaccard", "8", "100", "minhash"))
      val pairs = spark.read.parquet(s"$out/pairs.parquet")
        .select("pk1", "pk2", "similarity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(pairs.nonEmpty, "no top-K pairs")
      pairs.foreach { case (a, b, sim) =>
        assert(a < b, s"pair ($a, $b) is not ordered")
        assert(sim >= 0.0 && sim <= 100.0, s"pair ($a, $b) has similarity $sim")
      }
      checkGraph(out, pairs.map(p => (p._1, p._2)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** Persisted RDD ids and the CacheManager entry count, as in
    * [[StatelessRegistrySpec]]. */
  private def cachedState: (Set[Int], Int) = (
    spark.sparkContext.getPersistentRDDs.keySet.toSet,
    org.apache.spark.sql.graft.CacheProbe.entries(spark))

  private def check(out: String): Unit = {
    val before = cachedState
    BillMatch.run(spark, Array(sfDir, out, "cosine", "8", "100", "kmeans"))
    val after = cachedState
    assert((after._1 -- before._1).isEmpty && after._2 == before._2,
      s"the run persisted RDDs ${after._1 -- before._1} or changed the cache " +
        s"entries from ${before._2} to ${after._2}")

    val pairs = spark.read.parquet(s"$out/pairs.parquet")
      .select("pk1", "pk2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no top-K pairs")
    checkGraph(out, pairs)
  }

  /** The graph ranks exactly the top-K endpoints, each once with a finite
    * positive rank, and the session still runs queries. */
  private def checkGraph(out: String, pairs: Seq[(Long, Long)]): Unit = {
    val endpoints = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet

    val graph = spark.read.parquet(s"$out/graph.parquet")
      .select("vertex", "rank").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(graph.map(_._1).toSet == endpoints)
    assert(graph.length == endpoints.size, "graph.parquet repeats a vertex")
    graph.foreach { case (v, rank) =>
      assert(!rank.isNaN && !rank.isInfinite && rank > 0.0, s"vertex $v has rank $rank")
    }

    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3L)
  }
}
