package graft.expressions

import graft.SparkSpec
import graft.SparkSpec.{codegenOnly, noCodegen}
import graft.text.TextOps
import org.apache.spark.ml.feature.StopWordsRemover
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

/** The featurization kernels take the RAW text and lowercase it themselves
  * (FoldsCase). Each must equal the same kernel over `lower(text)`, value
  * for value, in generated code (CODEGEN_ONLY, no fallback) and interpreted
  * (NO_CODEGEN), with Spark's ICU case mappings on and off — on text whose
  * lowercasing changes length or produces ASCII, on invalid UTF-8, and on
  * empty and null text.
  */
class RawTextLowerSpec extends SparkSpec {
  import spark.implicits._

  private val stop = StopWordsRemover.loadDefaultStopWords("english").toSeq

  private val texts: Seq[String] = Seq(
    "The Quick BROWN Fox JUMPS over THE lazy dog, THE END",
    "ALPHA Alpha alpha_BETA Gamma-GAMMA Zebra?LION Under_Scored THING",
    "\u0130stanbul \u0130\u0130\u0130 THE \u0130TEM is \u0130s", // İ → i̇, two chars
    "\u212Aelvin \u212A\u212A\u212A KELVIN temperature", // Kelvin sign → ASCII k
    "Stra\u1E9Ee GRO\u1E9EE stra\u00DFe", // ẞ → ß
    "\u039F\u0394\u039F\u03A3 \u03A3\u039F\u03A6\u039F\u03A3 THE", // final Σ → ς
    "\uFF21\uFF22\uFF23 \uFF41\uFF42\uFF43 ABC Full-Width", // Ａ → ａ
    "§ 12 Section §§ the Sections §ING",
    "",
    null)

  /** Text whose bytes are not valid UTF-8 (lone continuation bytes, a
    * truncated sequence, 0xFF). */
  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    "THE ab".getBytes("UTF-8") ++ Array(0xff, 0xfe).map(_.toByte) ++
      " CD ze".getBytes("UTF-8") ++ Array(0xc3.toByte) ++ " the ENDING".getBytes("UTF-8"),
    Array(0x80, 0x41, 0x42, 0x43, 0x44, 0xe2, 0x84).map(_.toByte) ++
      " Things AND".getBytes("UTF-8"))

  private val profiles = Seq(TextOps.langTrigramProfiles("en"),
    Seq("the", "kel", "i\u0307s", "a\u00DFe", "\u03BF\u03C2 ", "\uFF41\uFF42\uFF43",
      "\u00A7 t"))

  /** (name, kernel over c) for every kernel and shape under test. */
  private def kernels(c: Column): Seq[(String, Column)] = {
    import org.apache.spark.sql.graft.bridge
    val e = bridge.expression(c)
    Seq(1024, 1 << 16).flatMap(n => Seq(
      s"buckets_$n" -> bridge.column(CleanTokenBuckets(e, n, stop)),
      s"tf_$n" -> bridge.column(CleanTokenTf(e, n, stop)))) ++
      profiles.zipWithIndex.map { case (p, i) =>
        s"trigrams_$i" -> bridge.column(TrigramHits(e, p)) }
  }

  private lazy val corpus: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .union(invalidUtf8.zipWithIndex.map { case (b, i) => (100L + i, b) }
        .toDF("id", "bytes").select(col("id"), col("bytes").cast("string").as("text")))

  test("each kernel on raw text == the same kernel on lower(text), every mode") {
    asScan(corpus) { docs =>
      // the fixture really holds invalid UTF-8 and a null
      assert(docs.where(!expr("is_valid_utf8(text)")).count() == invalidUtf8.length)
      assert(docs.where(col("text").isNull).count() == 1)
      for ((mode, kvs) <- Seq("CODEGEN_ONLY" -> codegenOnly, "NO_CODEGEN" -> noCodegen);
           icu <- Seq("true", "false"))
        withConf(kvs :+ ("spark.sql.icu.caseMappings.enabled" -> icu)) {
          val raw = kernels(col("text"))
          val lowered = kernels(lower(col("text")))
          val rows = docs.select(col("id") +: raw.zip(lowered).flatMap {
            case ((name, r), (_, l)) => Seq(r.as(s"r_$name"), l.as(s"l_$name"))
          }: _*).collect()
          assert(rows.length == texts.length + invalidUtf8.length)
          for ((name, _) <- raw; row <- rows) {
            val (r, l) = (row.getAs[Any](s"r_$name"), row.getAs[Any](s"l_$name"))
            assert(r == l,
              s"$mode icu=$icu $name, doc ${row.getLong(0)}: raw $r, lowered $l")
          }
          // the fold is exercised: "\u212Aelvin" and "KELVIN" both hit "kel"
          assert(rows.find(_.getLong(0) == 3L).get.getAs[Int]("r_trigrams_1") == 2)
        }
    }
  }

  test("non-UTF8_BINARY text fails analysis, loudly") {
    val docs = Seq((1L, "The Text")).toDF("id", "text")
    val collated = collate(col("text"), "UTF8_LCASE")
    for ((name, k) <- kernels(collated)) {
      val e = intercept[AnalysisException](docs.select(k).collect())
      assert(e.getMessage.contains("UTF8_BINARY"), s"$name: ${e.getMessage}")
    }
  }
}
