package graft

import graft.io.Tables
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** End-to-end contract of the [[CorpusBuild]] composition: gates applied,
  * no exact duplicates survive, the eval slice is excluded, no surviving
  * training doc shares a 4-gram with the eval slice, and the split is a
  * deterministic partition of the survivors. */
class CorpusBuildSpec extends SparkSpec {
  import spark.implicits._

  private lazy val out = CorpusBuild.build(spark, sfDir).cache()

  test("quality gate and eval-slice exclusion hold on every surviving row") {
    val bad = out.filter(!col("n_tok").between(10, 1000) ||
      col("doc_id") % 11 === 0).count()
    assert(bad == 0)
    assert(out.count() > 0)
  }

  test("no exact-duplicate text survives") {
    val dups = out.groupBy(md5(col("text").cast("binary")))
      .count().filter(col("count") > 1).count()
    assert(dups == 0)
  }

  test("no surviving doc shares a 4-gram with the eval slice") {
    val grams = Tables.documents(spark, sfDir).select(col("doc_id"),
      explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
    val bench = grams.filter(col("doc_id") % 11 === 0).select("g").distinct()
    val leaked = out.select(col("doc_id"),
        explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
      .join(bench, "g").count()
    assert(leaked == 0, s"$leaked contaminated grams survived")
  }

  test("split labels partition the survivors deterministically") {
    val labels = out.select("split").distinct().as[String].collect().toSet
    assert(labels.subsetOf(Set("train", "val", "test")))
    val again = CorpusBuild.build(spark, sfDir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val first = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == first, "split assignment not deterministic across runs")
  }

  test("run writes a corpus its report counts exactly and keeps the session") {
    val dir = java.nio.file.Files.createTempDirectory("corpusbuild-spec").toString
    try {
      CorpusBuild.run(spark, Array(sfDir, dir))
      val corpus = spark.read.parquet(s"$dir/corpus.parquet")
      val nRows = corpus.count()
      assert(nRows > 0)
      val reported = spark.read.parquet(s"$dir/report.parquet")
        .agg(sum("n_docs")).as[Long].head()
      assert(reported == nRows, s"report counts $reported docs, corpus has $nRows")
      val labels = corpus.select("split").distinct().as[String].collect().toSet
      assert(labels.nonEmpty && labels.subsetOf(Set("train", "val", "test")), s"$labels")
      assert(!spark.sparkContext.isStopped)
      assert(spark.range(3).count() == 3L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
