package graft

import org.apache.spark.sql.functions._

/** [[DupGen.run]] at factor 2: every fact table doubles with range-disjoint
  * keys that still join within a replica, the constant-size dimensions are
  * copied once, replica text carries its suffix, and a second run resumes
  * (skips every finished table) instead of rewriting it. */
class DupGenSpec extends SparkSpec {
  import spark.implicits._

  private val factor = 2
  private val tables = Seq("customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings", "region", "nation")

  private lazy val out: String = {
    val dir = java.nio.file.Files.createTempDirectory("dupgen-spec").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(dir)
    DupGen.run(spark, Array(sfDir, dir.toString, factor.toString))
    dir.toString
  }

  private def base(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
  private def dup(t: String) = spark.read.parquet(s"$out/$t.parquet")

  test("every table doubles except region and nation, which copy once") {
    for (t <- tables) {
      val want = base(t).count() * (if (t == "region" || t == "nation") 1 else factor)
      assert(dup(t).count() == want, s"$t")
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("doc_id, event_id and c_custkey stay distinct") {
    for ((t, key) <- Seq("documents" -> "doc_id", "events" -> "event_id",
                         "customer" -> "c_custkey")) {
      val df = dup(t)
      assert(df.select(key).distinct().count() == df.count(), s"$t.$key")
    }
  }

  test("lineitem joins orders within its replica") {
    def matches(l: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
      l.join(o, l("l_orderkey") === o("o_orderkey")).count()
    val baseCount = matches(base("lineitem"), base("orders"))
    assert(baseCount > 0)
    assert(matches(dup("lineitem"), dup("orders")) == factor * baseCount)
  }

  test("replica 1's text ends in \" rep1\"") {
    val maxBase = base("documents").agg(max("doc_id")).as[Long].head()
    val rep1 = dup("documents").filter(col("doc_id") > maxBase)
    assert(rep1.count() == base("documents").count())
    assert(rep1.filter(!col("text").endsWith(" rep1")).count() == 0)
  }

  test("a second run rewrites nothing") {
    def stamps = tables.map(t => t -> new java.io.File(s"$out/$t.parquet/_SUCCESS").lastModified())
    val before = stamps
    assert(before.forall(_._2 > 0L), s"missing _SUCCESS: $before")
    DupGen.run(spark, Array(sfDir, out, factor.toString))
    assert(stamps == before)
  }
}
