package graft

import java.nio.file.Files

/** The runnable [[BillMatch]] pipeline (k-means blocking) on the shared
  * session: the graph output ranks exactly the top-K pair endpoints, every
  * rank is a finite positive number, and the session is still usable after
  * the run. */
class BillMatchSpec extends SparkSpec {

  test("kmeans run writes a graph over exactly the top-K endpoints and keeps the session") {
    val out = Files.createTempDirectory("billmatch-spec").toString
    try check(out)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  private def check(out: String): Unit = {
    BillMatch.run(spark, Array(sfDir, out, "cosine", "8", "100", "kmeans"))

    val pairs = spark.read.parquet(s"$out/pairs.parquet")
      .select("pk1", "pk2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no top-K pairs")
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
