package graft

import java.nio.file.Files

import graft.io.Tables
import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The runnable [[BillMatch]] pipeline (k-means blocking) on the shared
  * session: the graph output ranks exactly the top-K pair endpoints, every
  * rank is a finite positive number, and the session is still usable after
  * the run, with no RDD or plan left cached. Workflow 1 scores its pairs in
  * [[graft.similarity.BlockScore]], so none of its queries scores a pair
  * through a UDF or reads a cached frame but the features. */
class BillMatchSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("kmeans run writes a graph over exactly the top-K endpoints and keeps the session") {
    val out = Files.createTempDirectory("billmatch-spec").toString
    try check(out)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** Workflow 2, with no RDD or plan left cached. */
  test("minhash run keeps pk1 < pk2, similarities in [0, 100], and the session") {
    val out = Files.createTempDirectory("billmatch-spec-minhash").toString
    try {
      val before = cachedState
      BillMatch.run(spark, Array(sfDir, out, "jaccard", "8", "100", "minhash"))
      assertNothingCachedSince(before)
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

  private def assertNothingCachedSince(before: (Set[Int], Int)): Unit = {
    val after = cachedState
    assert((after._1 -- before._1).isEmpty && after._2 == before._2,
      s"the run persisted RDDs ${after._1 -- before._1} or changed the cache " +
        s"entries from ${before._2} to ${after._2}")
  }

  private def check(out: String): Unit = {
    val before = cachedState
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val printed = new java.io.ByteArrayOutputStream
    spark.listenerManager.register(listener)
    try Console.withOut(printed) {
      BillMatch.run(spark, Array(sfDir, out, "cosine", "8", "100", "kmeans"))
    } finally {
      org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    checkPlans(plans.synchronized(plans.toList))
    val docs = "docs=(\\d+)".r.findFirstMatchIn(printed.toString).map(_.group(1).toLong)
    assert(docs.contains(Tables.spread(Tables.documents(spark, sfDir)).count()),
      s"printed docs=$docs")
    assertNothingCachedSince(before)

    val pairs = spark.read.parquet(s"$out/pairs.parquet")
      .select("pk1", "pk2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no top-K pairs")
    checkGraph(out, pairs)
  }

  /** No UDF of two vectors (a pair measure) in any executed plan, cached
    * plans included, and no cached frame but the features (doc_id, lang,
    * n_chars, features). The walk must meet the k-means assignment, a UDF
    * of one vector, or it saw no expression at all. */
  private def checkPlans(plans: Seq[SparkPlan]): Unit = {
    def walk(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }.flatMap {
      case s: InMemoryTableScanExec => s +: walk(s.relation.cachedPlan)
      case n => Seq(n)
    }
    val nodes = plans.flatMap(walk)
    val udfs = nodes.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    def vectors(u: ScalaUDF) = u.children.count(_.dataType == VectorType)
    assert(udfs.exists(vectors(_) == 1), s"no k-means assignment UDF in ${plans.size} plans")
    assert(!udfs.exists(vectors(_) > 1), s"a pair is scored by a UDF: ${udfs.filter(vectors(_) > 1)}")
    val cached = nodes.collect { case s: InMemoryTableScanExec => s.relation.output.map(_.name) }
    assert(cached.nonEmpty && cached.forall(_ == Seq("doc_id", "lang", "n_chars", "features")),
      s"cached frames read: ${cached.distinct}")
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
