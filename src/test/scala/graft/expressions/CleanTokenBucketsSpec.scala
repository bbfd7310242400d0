package graft.expressions

import graft.SparkSpec
import graft.text.{FeatureConfig, FeaturePipeline, StockPipeline}
import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.sql.functions._

/** CleanTokenBuckets must equal the stock pipeline it replaces — clean →
  * dropSmallWords → RegexTokenizer(\W) → english StopWordsRemover →
  * HashingTF, the test-scope StockPipeline oracle — nonzero-index set,
  * element for element. */
class CleanTokenBucketsSpec extends SparkSpec {
  import spark.implicits._

  private val stop = StopWordsRemover.loadDefaultStopWords("english").toSeq

  private def kernelSets(df: org.apache.spark.sql.DataFrame, n: Int) = {
    val b = org.apache.spark.sql.graft.bridge.column(
      CleanTokenBuckets(
        org.apache.spark.sql.graft.bridge.expression(lower(col("text"))),
        n, stop))
    df.select(col("doc_id"), b.as("set"))
      .as[(Long, Seq[Long])].collect().toMap
  }

  private def pipelineSets(df: org.apache.spark.sql.DataFrame, n: Int) = {
    val feats = StockPipeline.features(df,
      FeatureConfig(numTextFeatures = n, useIdf = false))
    val nz = org.apache.spark.sql.graft.bridge.column(
      VectorNzIndices(
        org.apache.spark.sql.graft.bridge.expression(col("features"))))
    feats.select(col("doc_id"), nz.as("set"))
      .as[(Long, Seq[Long])].collect().toMap
  }

  test("adversarial inputs: clean-merge, short words, stopwords, empties") {
    val docs = Seq(
      // comma/digit deletion MERGES runs: "ab,cd" -> "abcd"; "ab12cd" -> "abcd"
      (1L, "ab,cd and ab12cd share one merged token"),
      // 1-2 char runs dropped AFTER the merge: "a,b" -> "ab" -> dropped
      (2L, "a,b xy z win the quick brown foxes"),
      // stopwords (the/of/and), punctuation separators, underscores kept
      (3L, "the quick_brown fox. of! and? under_scored_token stays"),
      // all-stopword and empty and whitespace-only docs
      (4L, "the of and a an"),
      (5L, ""),
      (6L, "   \t \n  "),
      // repeated tokens collapse to one bucket; mixed case lowered
      (7L, "Alpha ALPHA alpha BETA beta gamma-gamma"),
      // digits-only words vanish; colon/semicolon/question deletions
      (8L, "2026 101 x: y; zebra?lion 42nd street"),
      // token long enough to exercise murmur3 tail paths (1..3 tail bytes)
      (10L, "abcd abcde abcdef abcdefg abcdefgh longertokenvalue")
    ).toDF("doc_id", "text")
    for (n <- Seq(64, 1024)) {
      val k = kernelSets(docs, n)
      val p = pipelineSets(docs, n)
      assert(k.keySet == p.keySet)
      for (id <- k.keySet)
        assert(k(id) == p(id), s"bucket set mismatch for doc $id at n=$n")
    }
  }

  test("non-ASCII \\b: kernel follows the ASCII/RE2 semantics the oracle replays") {
    // Java's \b treats accented letters as word characters (Unicode
    // boundary semantics) while its \w stays ASCII — so the stock
    // dropSmallWords regex does NOT delete the 1-char run "r" in "résumé"
    // (no boundary between 'r' and 'é'), and the stock pipeline then emits
    // a 1-char token "r". DuckDB's RE2 \b is ASCII like \w, so the ORACLE
    // deletes it — i.e. the stock engine pipeline and the oracle already
    // diverge on non-ASCII input, and the gates hold because the fixture
    // corpus is ASCII-only. The kernel applies the ASCII definition
    // consistently (run length over [a-zA-Z_] chars), matching the oracle.
    val doc = CleanTokenBucketsSpec.nonAsciiRows.toDF("doc_id", "text")
    val k = kernelSets(doc, 1024)(9L).toSet
    def bucket(t: String) = graft.text.Murmur3.bucket(t, 1024).toLong
    assert(k == Set("caf", "men", "sum", "plain", "words").map(bucket),
      "kernel must tokenize like the RE2 oracle: 1-char 'r' dropped")
    val p = pipelineSets(doc, 1024)(9L).toSet
    assert(p == k + bucket("r"),
      "stock pipeline keeps the 1-char 'r' (Java \\b Unicode quirk) — if " +
        "this changes, the kernel/pipeline divergence note is stale")
  }

  test("fuzz parity against the stock pipeline") {
    val docs = TfIdfKernelsSpec.fuzzRows(7, 200).toDF("doc_id", "text")
    val k = kernelSets(docs, 256)
    val p = pipelineSets(docs, 256)
    assert(k.keySet == p.keySet)
    for (id <- k.keySet) assert(k(id) == p(id), s"fuzz mismatch for doc $id")
  }

  test("full-corpus parity with the stock pipeline on the gate fixture") {
    // Beyond the synthetic fuzz: every document of the sf0.01 gate corpus
    // (the data the DuckDB hash gate runs on) must produce the identical
    // bucket set through the kernel and through the stock ML pipeline.
    // SPARK_GRAFT_PARITY_SF overrides the corpus dir (e.g. sf0.1) for a
    // manual larger-scale run.
    val dir = sys.env.getOrElse("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val k = kernelSets(docs, 1024)
    val p = pipelineSets(docs, 1024)
    assert(k.keySet == p.keySet)
    val bad = k.keySet.filter(id => k(id) != p(id))
    assert(bad.isEmpty, s"bucket-set mismatch for docs ${bad.take(5)}")
  }

  test("set-path self-join equals the vector-path self-join") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta common shared phrases here"),
      (2L, "alpha beta gamma delta epsilon zeta common shared phrases there"),
      (3L, "completely different material about unrelated topics entirely"),
      (4L, "alpha beta gamma delta epsilon zeta common shared phrases here"),
      (5L, "the of and a an") // all stopwords -> empty set, must not join
    ).toDF("doc_id", "text")
    val stopArr = stop
    val b = org.apache.spark.sql.graft.bridge.column(
      CleanTokenBuckets(
        org.apache.spark.sql.graft.bridge.expression(lower(col("text"))),
        1024, stopArr))
    val sets = docs.select(col("doc_id"), b.as("__set"))
    val viaSets = graft.lsh.LshJoins
      .minHashSelfJoinSets(sets, "doc_id", "__set", threshold = 0.8)
      .as[(Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val tf = FeaturePipeline.features(docs,
      FeatureConfig(numTextFeatures = 1024, useIdf = false))
      .select("doc_id", "features")
    val viaVecs = graft.lsh.LshJoins
      .minHashSelfJoin(tf, "doc_id", "features", threshold = 0.8)
      .as[(Long, Long, Double, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(viaSets == viaVecs)
    assert(viaSets.map(r => (r._1, r._2)).contains((1L, 2L)))
    assert(viaSets.map(r => (r._1, r._2)).contains((1L, 4L)))
  }
}

object CleanTokenBucketsSpec {

  /** Accented words, where the kernel's ASCII `\b` and the stock chain's
    * Java `\b` disagree. */
  val nonAsciiRows: Seq[(Long, String)] = Seq((9L, "café menü résumé plain words"))
}
