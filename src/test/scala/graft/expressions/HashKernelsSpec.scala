package graft.expressions

import graft.SparkSpec
import graft.dedup.MinHashDedup
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ShingleHashes and BandHashes kernels behind MinHashDedup's sketch
  * must equal the lambda Column forms they replaced — same values, same
  * order, same column type and nullability — in generated code
  * (CODEGEN_ONLY, no fallback) and interpreted (NO_CODEGEN). The lambda
  * forms are kept here as the oracles.
  */
class HashKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val P = MinHashDedup.P

  /** `array_distinct(transform(grams, s => [pmod](xxhash64(s), P)))`. */
  private def lambdaShingles(text: Column, w: Int, reduce: Boolean): Column =
    array_distinct(transform(TextOps.ngrams(TextOps.tokens(text), w),
      s => if (reduce) pmod(xxhash64(s), lit(P)) else xxhash64(s)))

  /** One `(band, xxhash64(slice))` struct per band. */
  private def lambdaBands(sig: Column, bands: Int, numHashes: Int): Column = {
    val r = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"), xxhash64(slice(sig, b * r + 1, lit(r))).as("bh")))
  }

  private val codegenOnly = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "true")
  private val noCodegen = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  private def withConf(kvs: Seq[(String, String)])(body: => Unit): Unit = {
    val conf = spark.conf
    val before = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Every (kernel, oracle) column pair of `pairs` agrees on type,
    * nullability and every row's value, under both codegen modes. */
  private def assertSame(df: DataFrame, pairs: (String, Column, Column)*): Unit =
    for ((mode, kvs) <- Seq("CODEGEN_ONLY" -> codegenOnly, "NO_CODEGEN" -> noCodegen))
      withConf(kvs) {
        val out = df.select(pairs.flatMap { case (name, k, o) =>
          Seq(k.as(s"k_$name"), o.as(s"o_$name")) }: _*)
        pairs.foreach { case (name, _, _) =>
          val (k, o) = (out.schema(s"k_$name"), out.schema(s"o_$name"))
          assert(k.dataType == o.dataType && k.nullable == o.nullable,
            s"$mode $name: kernel type $k, lambda type $o")
        }
        val rows = out.collect()
        assert(rows.nonEmpty)
        pairs.indices.foreach { i =>
          val bad = rows.filter(r => r.get(2 * i) != r.get(2 * i + 1))
          assert(bad.length == 0, s"$mode ${pairs(i)._1}: ${bad.length} rows differ, " +
            s"first ${bad.headOption.map(r => (r.get(2 * i), r.get(2 * i + 1)))}")
        }
      }

  /** A parquet scan, not a local Seq: projections over a LocalRelation are
    * folded by the optimizer through the interpreted path. */
  private def asScan(df: DataFrame)(body: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("hash-kernels-spec").toString
    try {
      df.write.mode("overwrite").parquet(dir)
      body(spark.read.parquet(dir))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private lazy val docs = graft.io.Tables.documents(spark, sfDir).select("doc_id", "text")

  private val edgeTexts = Seq(
    (1L, "a b a b a b a b a b a b"),                      // repeated shingles
    (2L, "the same five token run the same five token run the same five token run"),
    (3L, "two words"),                                    // shorter than w
    (4L, ""),
    (5L, "   "),
    (6L, "naïve café déjà vu — 日本語 の テキスト façade naïve café déjà vu"),
    (7L, "emoji 😀 run 😀 emoji 😀 run 😀 emoji 😀 run"),
    (8L, null)
  ).toDF("doc_id", "text")

  test("shingle kernel == array_distinct(transform(xxhash64)) with and without pmod") {
    for (w <- Seq(5, 3, 1))
      assertSame(docs,
        (s"hashes$w", MinHashDedup.shingleHashes(col("text"), w),
          lambdaShingles(col("text"), w, reduce = true)),
        (s"ids$w", MinHashDedup.shingleIds(col("text"), w),
          lambdaShingles(col("text"), w, reduce = false)))
  }

  test("shingle kernel on repeats, short, empty, non-ASCII and null texts") {
    asScan(edgeTexts) { edge =>
      for (w <- Seq(5, 2, 1))
        assertSame(edge,
          (s"hashes$w", MinHashDedup.shingleHashes(col("text"), w),
            lambdaShingles(col("text"), w, reduce = true)),
          (s"ids$w", MinHashDedup.shingleIds(col("text"), w),
            lambdaShingles(col("text"), w, reduce = false)))
      // repeats collapse to first occurrences: "a b", "b a"
      val ab = edge.filter(col("doc_id") === 1L)
        .select(MinHashDedup.shingleIds(col("text"), 2)).as[Seq[Long]].head()
      assert(ab.length == 2)
    }
  }

  test("BandHashes == per-band xxhash64(slice) on sf0.001 signatures") {
    val sigs = docs.select(
      MinHashDedup.signature(MinHashDedup.shingleHashes(col("text"), 5), 64).as("s64"),
      MinHashDedup.signature(MinHashDedup.shingleHashes(col("text"), 5), 10).as("s10"))
    assertSame(sigs,
      ("b16", MinHashDedup.bandHashes(col("s64"), 16, 64), lambdaBands(col("s64"), 16, 64)),
      ("b1", MinHashDedup.bandHashes(col("s64"), 1, 64), lambdaBands(col("s64"), 1, 64)),
      // 10 hashes in 3 bands of 3: the tenth hash is in no band
      ("b3", MinHashDedup.bandHashes(col("s10"), 3, 10), lambdaBands(col("s10"), 3, 10)))
  }

  test("BandHashes on the all-P sentinel, a null signature and more bands than hashes") {
    asScan(edgeTexts) { edge =>
      val sigs = edge.select(col("doc_id"),
        MinHashDedup.signature(MinHashDedup.shingleHashes(col("text"), 5), 10).as("s"))
      assertSame(sigs,
        ("b3", MinHashDedup.bandHashes(col("s"), 3, 10), lambdaBands(col("s"), 3, 10)),
        ("b1", MinHashDedup.bandHashes(col("s"), 1, 10), lambdaBands(col("s"), 1, 10)),
        ("b16", MinHashDedup.bandHashes(col("s"), 16, 10), lambdaBands(col("s"), 16, 10)))
      // "two words" has no 5-gram: its signature is the all-P sentinel
      val sentinel = sigs.filter(col("doc_id") === 3L).select("s").as[Seq[Long]].head()
      assert(sentinel == Seq.fill(10)(P))
    }
  }
}
