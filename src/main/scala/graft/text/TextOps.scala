package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text operators: cleaning, tokenization, n-grams, language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * Re-expresses the reference's UDF zoo (cleaner_udf / smallWordRemover /
  * compactSelector_udf etc., reference feature/Utils.scala:177-281 and
  * WordCount.scala:44-46) as pure Column expressions: every function here stays
  * inside whole-stage codegen — no Scala UDF boxing, no driver round-trips —
  * which is what survives a 100 TB scan.
  */
object TextOps {

  /** F1: strip digits and clutter punctuation (reference Utils.scala:177). */
  def clean(c: Column): Column =
    regexp_replace(lower(c), "(\\d|,|:|;|\\?|!)", "")

  /** F2: drop 1-2 letter words (reference Utils.scala:178-179). */
  def dropSmallWords(c: Column): Column =
    regexp_replace(c, "\\b\\w{1,2}\\b", "")

  /** M1-equivalent tokenizer on a Column (RegexTokenizer pattern \W,
    * reference Utils.scala:186) — a plain whitespace split with empty tokens
    * removed, matching the oracle's string_split + list_filter. Native
    * one-pass expression ([[graft.expressions.SplitNonEmpty]]): the
    * filter(split(...)) Column form runs the lambda interpreted per element
    * (higher-order functions are CodegenFallback) and dominated every
    * token-path query at scale (SCALEPROBE.md). */
  def tokens(c: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.SplitNonEmpty(
        org.apache.spark.sql.graft.bridge.expression(c)))

  /** M4: n-grams over a token array (reference NGram usage Utils.scala:206-216)
    * — ml.feature.NGram per-row semantics as a native codegen expression
    * ([[graft.expressions.NGramJoin]]; spec-checked against NGram itself). */
  def ngrams(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.NGramJoin(
        org.apache.spark.sql.graft.bridge.expression(toks), n))

  /** Exact token count after whitespace split. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token estimate: word pieces + isolated punctuation. Native
    * single-scan counter ([[graft.expressions.BpeishCount]]) — bit-identical
    * to regexp_count(c, "[A-Za-z0-9]+|[^A-Za-z0-9\\s]") (spec-pinned) at a
    * fraction of the regex engine's cost (SCALEPROBE.md: the former 15 s at
    * 100× was this regex). */
  def bpeishCount(c: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.BpeishCount(
        org.apache.spark.sql.graft.bridge.expression(c)))

  /** Language marker word lists for the n-gram/stopword language heuristic. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "los", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"))

  /** Count of tokens that appear in `words`. */
  def markerScore(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Character trigrams of a string (1-based substrings; empty below 3 chars).
    * The guard matters: sequence(1, n) with n < 1 would DESCEND ([1, 0]). */
  def charTrigrams(c: Column): Column =
    when(length(c) >= 3,
      transform(sequence(lit(1), length(c) - 2), i => c.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))

  /** Per-language character-trigram profiles (trigrams of the marker words,
    * space-padded) for the n-gram language heuristic. */
  val langTrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "he ", " th", "ing", "and", " of"),
    "es" -> Seq("el ", "la ", " de", "los", " qu", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich"),
    "fr" -> Seq("le ", "les", " et", "est", "une", " la"))

  /** Language ID via character n-gram profile hits — the classic n-gram
    * heuristic (complement of the marker-word [[langId]]); deterministic
    * tie-break en > es > de > fr > und. */
  def langIdNgram(text: Column): Column = {
    // native single-scan trigram counter ([[graft.expressions.TrigramHits]]):
    // bit-identical to size(filter(charTrigrams(lower(s)), isin(profile)))
    // but allocation-free on ASCII text — the array form cost ~0.2 ms/doc
    // (SCALEPROBE.md), 10× every other quality signal. The kernel lowercases
    // the raw text itself, so no `lower()` runs.
    def score(lang: String) =
      org.apache.spark.sql.graft.bridge.column(
        graft.expressions.TrigramHits(
          org.apache.spark.sql.graft.bridge.expression(text),
          langTrigramProfiles(lang)))
    val en = score("en"); val es = score("es"); val de = score("de"); val fr = score("fr")
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Language-ID heuristic: argmax of marker-word hits with deterministic
    * tie-break order en > es > de > fr > und. */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val en = markerScore(t, langMarkers("en"))
    val es = markerScore(t, langMarkers("es"))
    val de = markerScore(t, langMarkers("de"))
    val fr = markerScore(t, langMarkers("fr"))
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Total characters across tokens (for avg token length). */
  def tokenChars(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t))

  /** Document fingerprint: md5 hex of the text (content-hash dedup key). */
  def fingerprint(c: Column): Column = md5(c.cast("binary"))

  /** Winnowing fingerprints (rolling-hash k-grams, min-per-window — see
    * [[Winnowing]]), packed (pos << 32) | hash per selected k-gram. */
  def winnow(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.WinnowPack(
        org.apache.spark.sql.graft.bridge.expression(c), k, w))

  /** M3: Porter-stem one token ([[graft.expressions.PorterStem]], codegen'd). */
  def porterStem(token: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.PorterStem(
        org.apache.spark.sql.graft.bridge.expression(token)))

  /** M3: Porter-stem every token of an array column. */
  def stemTokens(toks: Column): Column = transform(toks, porterStem(_))

  /** M3: Snowball (Porter2 English) stem of one token — the reference's
    * actual stemming algorithm ([[graft.expressions.SnowballStem]]). */
  def snowballStem(token: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.SnowballStem(
        org.apache.spark.sql.graft.bridge.expression(token)))

  /** M3: Snowball-stem every token of an array column. */
  def snowballTokens(toks: Column): Column = transform(toks, snowballStem(_))
}
