package graft.expressions

import graft.SparkSpec
import graft.text.{FeatureConfig, FeaturePipeline}
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CleanTokenTf/IdfScale kernel path (FeaturePipeline.features, hashing
  * configs) must equal the STOCK transformer chain
  * (FeaturePipeline.fitTransform) bit-for-bit: same sparse indices, same
  * value BITS (Double.doubleToLongBits) — the features feed four pinned
  * fits, q_dimsum's pinned sampling and the q_tfidf_features/q_billmatch
  * oracles, so "approximately equal" is not a meaningful parity notion
  * here. ASCII corpora only, like CleanTokenBucketsSpec: on non-ASCII text
  * the kernel follows the oracle's ASCII/RE2 \b semantics while the stock
  * Java pipeline does not (divergence pinned there).
  */
class TfIdfKernelsSpec extends SparkSpec {
  import spark.implicits._

  private def fingerprint(df: DataFrame): Map[Long, (String, Seq[Int], Seq[Long])] =
    df.select(col("doc_id"), col("features")).collect().map { r =>
      val v = r.getAs[Vector](1)
      val (kind, idx, bits) = v match {
        case s: SparseVector =>
          ("sparse", s.indices.toSeq,
            s.values.toSeq.map(java.lang.Double.doubleToLongBits))
        case d =>
          ("dense", Nil, d.toArray.toSeq.map(java.lang.Double.doubleToLongBits))
      }
      r.getLong(0) -> ((kind, idx, bits))
    }.toMap

  private def compare(docs: DataFrame, cfg: FeatureConfig): Unit = {
    val stock = fingerprint(FeaturePipeline.fitTransform(docs, cfg)._2)
    val kernel = fingerprint(FeaturePipeline.features(docs, cfg))
    assert(stock.keySet == kernel.keySet)
    val bad = stock.keySet.filter(id => stock(id) != kernel(id))
    assert(bad.isEmpty,
      s"feature mismatch for docs ${bad.take(3).map(id => (id, stock(id), kernel(id)))}")
  }

  private val advDocs = Seq(
    (1L, "ab,cd and ab12cd share one merged token"),
    (2L, "a,b xy z win the quick brown foxes"),
    (3L, "the quick_brown fox. of! and? under_scored_token stays"),
    (4L, "the of and a an"),          // all stopwords → empty vector
    (5L, ""),                          // empty doc
    (6L, "   \t \n  "),
    (7L, "Alpha ALPHA alpha BETA beta gamma-gamma"), // counts > 1
    (8L, "2026 101 x: y; zebra?lion 42nd street"),
    (9L, "repeat repeat repeat repeat distinct singleton"),
    (10L, "abcd abcde abcdef abcdefg abcdefgh longertokenvalue")
  ).toDF("doc_id", "text")

  test("TF counts: kernel == stock HashingTF, bit-for-bit") {
    for (n <- Seq(64, 1024))
      compare(advDocs, FeatureConfig(numTextFeatures = n, useIdf = false))
  }

  test("TF-IDF: kernel == stock HashingTF→IDF, bit-for-bit") {
    for (n <- Seq(64, 1024); mdf <- Seq(0, 1, 3))
      compare(advDocs,
        FeatureConfig(numTextFeatures = n, useIdf = true, minDocFreq = mdf))
  }

  test("mixed-case extraStopWords: kernel == case-insensitive stock remover") {
    for (useIdf <- Seq(false, true))
      compare(advDocs, FeatureConfig(numTextFeatures = 1024, useIdf = useIdf,
        extraStopWords = Seq("Quick", "ZEBRA")))
  }

  test("fuzz parity against the stock pipeline (counts + idf)") {
    val rnd = new scala.util.Random(13)
    val alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789 ,:;?!._-'\"()\t\n"
    val docs = (0L until 150L).map { i =>
      val len = rnd.nextInt(240)
      (i, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    compare(docs, FeatureConfig(numTextFeatures = 256, useIdf = false))
    compare(docs, FeatureConfig(numTextFeatures = 256, useIdf = true))
  }

  test("minhash-sized bucket counts: kernel == stock, bit-for-bit (2^16, 2^18)") {
    val rnd = new scala.util.Random(29)
    val words = Seq("Alpha", "beta", "GAMMA", "delta", "the", "Epsilon", "zeta",
      "repeat", "repeat", "ab", "x1y2", "under_score")
    val docs = advDocs.union((0L until 60L).map { i =>
      (100L + i, Seq.fill(rnd.nextInt(80))(words(rnd.nextInt(words.length)))
        .mkString(if (i % 2 == 0) " " else ", "))
    }.toDF("doc_id", "text"))
    for (n <- Seq(1 << 16, 1 << 18); useIdf <- Seq(false, true))
      compare(docs, FeatureConfig(numTextFeatures = n, useIdf = useIdf))
    // the bucket sets are the TF vectors' indices
    val tf = fingerprint(FeaturePipeline.features(docs,
      FeatureConfig(numTextFeatures = 1 << 16, useIdf = false)))
    val sets = docs.select(col("doc_id"), org.apache.spark.sql.graft.bridge.column(
      CleanTokenBuckets(org.apache.spark.sql.graft.bridge.expression(col("text")),
        1 << 16, org.apache.spark.ml.feature.StopWordsRemover
          .loadDefaultStopWords("english").toSeq)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sets.keySet == tf.keySet)
    assert(sets.forall { case (id, s) => s == tf(id)._2.map(_.toLong) })
  }

  test("full-corpus parity on the gate fixture (the tfidfCfg shape)") {
    val dir = sys.env.getOrElse("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    compare(docs, FeatureConfig(numTextFeatures = 1024)) // featurized's config
    compare(docs, FeatureConfig(numTextFeatures = 1024, useIdf = false))
  }

  test("the kernels compile: no interpreted fallback under CODEGEN_ONLY") {
    // a case-class companion's `eval` gets no static forwarder (the class
    // has its own instance `eval`), so generated code must reach the
    // module; with fallback off a compile failure fails the query instead
    // of silently running interpreted
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val before = keys.map { case (key, _) => key -> conf.getOption(key) }
    keys.foreach { case (key, v) => conf.set(key, v) }
    try {
      // a parquet scan, not a local Seq: projections over a LocalRelation
      // are folded by the optimizer through the interpreted path
      val docs = graft.io.Tables.documents(spark, sfDir).select("doc_id", "text")
      val n = docs.count()
      val feats = FeaturePipeline.features(docs,
        FeatureConfig(numTextFeatures = 64, useIdf = true))
      assert(feats.select("features").collect().length == n)
      val buckets = org.apache.spark.sql.graft.bridge.column(CleanTokenBuckets(
        org.apache.spark.sql.graft.bridge.expression(lower(col("text"))), 64,
        org.apache.spark.ml.feature.StopWordsRemover.loadDefaultStopWords("english").toSeq))
      assert(docs.select(buckets).collect().length == n)
    } finally before.foreach {
      case (key, Some(v)) => conf.set(key, v)
      case (key, None) => conf.unset(key)
    }
  }

  test("a null text gets null features and is not counted by the IDF fit") {
    val withNull = advDocs.union(Seq((11L, null: String)).toDF("doc_id", "text"))
    val cfg = FeatureConfig(numTextFeatures = 64)
    val feats = FeaturePipeline.features(withNull, cfg)
      .select("doc_id", "features").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(feats.keySet == (1L to 11L).toSet && feats(11L) == null, feats)
    // a null counted in the document count or a frequency would move the idf
    val expected = FeaturePipeline.features(advDocs, cfg)
      .select("doc_id", "features").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert((1L to 10L).forall(id => feats(id) == expected(id)),
      (1L to 10L).filter(id => feats(id) != expected(id)))
  }

  test("an empty frame featurizes to an empty frame") {
    val out = FeaturePipeline.features(advDocs.limit(0), FeatureConfig(numTextFeatures = 64))
    assert(out.columns.toSeq == Seq("doc_id", "text", "features"))
    assert(out.collect().isEmpty)
  }

  test("IdfScale dense branch replays IDFModel.transform on dense input") {
    val idf = Array(0.0, 0.5, 2.0)
    val in = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1.toByte, null, null,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array(3.0, 4.0, 5.0))))
    val out = IdfScale.eval(in, idf)
    assert(out.getByte(0) == 1.toByte)
    assert(out.getArray(3).toDoubleArray().toSeq == Seq(0.0, 2.0, 10.0))
  }
}
