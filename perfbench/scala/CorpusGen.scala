package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

/** SplitMix64: a fully specified generator, so a seed means the same corpus
  * on every JVM. */
final class SplitMix64(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  /** Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  def gaussian(): Double =
    math.sqrt(-2.0 * math.log(1.0 - nextDouble())) * math.cos(2 * math.Pi * nextDouble())
}

/** What differs between the workloads' corpora; the rest of the shape is
  * fixed in [[CorpusGen]].
  *
  * @param docs       rows in `documents.parquet`
  * @param families   planted "model bill" families, each copied into 2 to 5
  *                   distinct states with token edits
  * @param exactDups  rows that are exact copies of another row's text
  * @param nearDups   rows that are copies with two token substitutions
  * @param shortDocs  rows below the corpus-build quality gate (< 10 tokens)
  */
final case class CorpusSpec(docs: Int, families: Int, exactDups: Int = 0,
                            nearDups: Int = 0, shortDocs: Int = 0)

/** A generated corpus and its ground truth. Ids are a seeded permutation of
  * 0 until docs, so planted rows are not adjacent. */
final case class Corpus(
    ids: Array[Long], texts: Array[String], langs: Array[String], sources: Array[String],
    plantedPairs: Array[(Long, Long)],   // cross-state pairs inside a family, pk1 < pk2
    exactGroups: Array[Array[Long]]) {   // ids sharing one text (original first)

  def size: Int = ids.length

  /** sha256 over every row and the ground truth, in id order. */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    ids.indices.sortBy(ids(_)).foreach { i =>
      md.update(s"${ids(i)}\t${langs(i)}\t${sources(i)}\t${texts(i)}\n".getBytes(UTF_8))
    }
    plantedPairs.foreach { case (a, b) => md.update(s"p\t$a\t$b\n".getBytes(UTF_8)) }
    exactGroups.foreach(g => md.update(s"e\t${g.mkString(",")}\n".getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Seeded synthetic corpus: a Zipf vocabulary of lowercase alphabetic words
  * of 3+ letters (all kept by the engine's cleaner and not English stop
  * words) mixed with per-subject rankings, so k-means has subjects to block
  * on; log-normal document lengths; planted model-bill families copied
  * across states with token edits; and optionally exact and near
  * duplicates plus sub-gate short documents. */
object CorpusGen {
  // The fixed shape: 10 states (`stateCodes`); 8 subjects, each doc drawing
  // 70% of its words from its subject's own ranking of a 20 000-word Zipf(1)
  // vocabulary; log-normal lengths around 120 words (30-600); family copies
  // edit 10% of their tokens. None of these figures comes from a measured
  // bill corpus: the paper's published numbers (BASELINE.md) give no length
  // or vocabulary statistics. They were chosen so that one call of each
  // workload runs tens of seconds on 4 cores. The one related figure in the
  // repository is the reference pipeline's filter keeping only bills longer
  // than 500 characters (FIXTURES.md); the shortest generated documents
  // (30 words, about 200 characters) fall below it. Longer documents would
  // shift time from per-stage overhead towards features and scoring.
  val topics = 8
  val topicShare = 0.7
  val vocabSize = 20000
  val medianWords = 120
  val lengthSigma = 0.5
  val minWords = 30
  val maxWords = 600
  val editRate = 0.1
  val nearEdits = 2

  val stateCodes: Array[String] = Array("al", "ak", "az", "ar", "ca", "co", "ct", "de", "fl", "ga")

  private val consonants = "bcdfghjklmnprstvwz"
  private val vowels = "aeiou"

  /** `n` distinct pronounceable words of 2-4 consonant-vowel syllables. */
  def vocabulary(n: Int, rng: SplitMix64): Array[String] = {
    val stop = org.apache.spark.ml.feature.StopWordsRemover
      .loadDefaultStopWords("english").toSet
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val sb = new StringBuilder
      (1 to rng.between(2, 4)).foreach { _ =>
        sb += consonants(rng.nextInt(consonants.length))
        sb += vowels(rng.nextInt(vowels.length))
      }
      if (rng.nextInt(3) == 0) sb += consonants(rng.nextInt(consonants.length))
      val w = sb.toString
      if (!stop.contains(w)) seen += w
    }
    seen.toArray
  }

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: SplitMix64): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def generate(spec: CorpusSpec, seed: Long): Corpus = {
    val rng = new SplitMix64(seed)
    val vocab = vocabulary(vocabSize, rng)
    val zipf = new Zipf(vocabSize, 1.0)
    val topicRank = Array.fill(topics)(rng.permutation(vocabSize))
    def anyState(): String = stateCodes(rng.nextInt(stateCodes.length))
    def words(n: Int): Array[String] = {
      val t = rng.nextInt(topics)
      Array.fill(n) {
        val r = zipf.sample(rng)
        vocab(if (rng.nextDouble() < topicShare) topicRank(t)(r) else r)
      }
    }
    def length(): Int = math.max(minWords, math.min(maxWords,
      math.round(medianWords * math.exp(lengthSigma * rng.gaussian())).toInt))
    def edit(base: Array[String], rate: Double): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      base.foreach { w =>
        if (rng.nextDouble() >= rate) out += w
        else rng.nextInt(4) match {
          case 0 | 1 => out += vocab(zipf.sample(rng))          // substitute
          case 2 => ()                                          // delete
          case _ => out += w; out += vocab(zipf.sample(rng))    // insert
        }
      }
      out.toArray
    }
    def substitute(base: Array[String], edits: Int): Array[String] = {
      val out = base.clone()
      (1 to edits).foreach(_ => out(rng.nextInt(out.length)) = vocab(zipf.sample(rng)))
      out
    }

    // row i of the corpus gets id ids(i)
    val ids = rng.permutation(spec.docs).map(_.toLong)
    val texts = new Array[String](spec.docs)
    val langs = new Array[String](spec.docs)
    var row = 0
    def add(ws: Array[String], lang: String): Long = {
      texts(row) = ws.mkString(" "); langs(row) = lang; row += 1
      ids(row - 1)
    }

    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    (1 to spec.families).foreach { _ =>
      val base = words(length())
      val members = rng.permutation(stateCodes.length).take(rng.between(2, 5))
        .map(s => add(edit(base, editRate), stateCodes(s)))
      for (a <- members; b <- members if a < b) planted += ((a, b))
    }
    val independent = spec.docs - row - spec.exactDups - spec.nearDups - spec.shortDocs
    require(independent > 0, s"spec leaves no room for independent documents: $spec")
    (1 to independent).foreach(_ => add(words(length()), anyState()))
    (1 to spec.shortDocs).foreach(_ => add(words(rng.between(3, 9)), anyState()))
    val originals = row
    val exact = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]
    (1 to spec.exactDups).foreach { _ =>
      val src = rng.nextInt(originals)
      exact.getOrElseUpdate(src, mutable.ArrayBuffer(ids(src))) +=
        add(texts(src).split(" "), anyState())
    }
    (1 to spec.nearDups).foreach { _ =>
      add(substitute(texts(rng.nextInt(originals)).split(" "), nearEdits), anyState())
    }
    val sources = Array.fill(spec.docs)(s"src${rng.nextInt(20)}")
    Corpus(ids, texts, langs, sources, planted.toArray, exact.values.map(_.toArray).toArray)
  }

  /** Prints the digest of one generated corpus: `CorpusGen <workload> <seed>`. */
  def main(args: Array[String]): Unit =
    println(generate(Workloads(args(0)).corpus, args(1).toLong).digest)
}
