package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's pinned text→TF-bucket-set pipeline as ONE codegen scan:
  * exactly `TextOps.clean` (strip `[\d,:;?!]` — deletions MERGE adjacent
  * word runs) → `TextOps.dropSmallWords` (`\b\w{1,2}\b` — deleting a 1-2
  * char word run never merges its neighbours, both are non-word) →
  * RegexTokenizer `\W` split (empty tokens dropped) → english
  * StopWordsRemover → HashingTF murmur3 bucket (`Murmur3.bucket`, the
  * spec-pinned HashingTF replay) → DISTINCT SORTED bucket ids as
  * array<long> — i.e. the nonzero-index set of the binary-TF vector, the
  * only thing set-similarity operators (MinHash LSH) consume.
  *
  * CONTRACT: the child is the RAW text (a UTF8_BINARY string; other
  * collations fail analysis). The kernel lowercases it exactly as
  * `lower(text)` would ([[FoldsCase]]: 'A'..'Z' folded in the scan itself,
  * non-ASCII rows lowercased whole first), so its output equals the same
  * kernel over `lower(text)` value for value (RawTextLowerSpec) — the
  * pipeline this replaces lowercases inside `clean`, and RegexTokenizer's
  * own lowercasing is then a no-op; stop-word lookup here is exact-match
  * on the produced (lowercase) token, which equals StopWordsRemover's
  * case-insensitive behaviour on lowercased input. Callers pass no
  * `lower()`: that expression's first use in a JVM builds an unused
  * 1.1M-code-point ICU title-case table (see [[FoldsCase]]).
  *
  * Why (r13, guide §1.2 step 2 / §4.1): the replaced chain cost two full
  * Java-regex passes over every document plus three per-row boxed ML UDFs
  * (tokenizer, stop words, HashingTF) and a Vector allocation per row —
  * measured ~35 s CPU per bench pass at sf0.1 on q_minhash_lsh's map
  * stage alone. One linear character scan with no allocation beyond the
  * token buffer and the output array computes the identical set
  * (CleanTokenBucketsSpec fuzzes parity against the stock chain, kept in
  * test scope as the StockPipeline oracle, on adversarial inputs; the
  * q_minhash_lsh DuckDB hash gate replays the same pipeline end-to-end).
  */
case class CleanTokenBuckets(child: Expression, numFeatures: Int,
                             stopWords: Seq[String])
    extends UnaryExpression with FoldsCase {
  require(numFeatures > 0)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_clean_token_buckets"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopWords.length * 2)
    stopWords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(CleanTokenBuckets.eval(
      input.asInstanceOf[UTF8String], useICU, numFeatures, stopSet))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
      ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        graft.expressions.CleanTokenBuckets$$.MODULE$$.eval(
          $c, $useICU, $numFeatures, $stopRef));"""
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CleanTokenBuckets {

  /** The distinct sorted buckets of the shared [[scan]]. */
  def eval(u: UTF8String, useICU: Boolean, numFeatures: Int,
           stopSet: java.util.HashSet[String]): Array[Long] = {
    val counts = new Array[Int](numFeatures)
    val out = new Array[Long](scan(FoldsCase.scanText(u, useICU), stopSet, counts))
    var b = 0
    var o = 0
    while (o < out.length) {
      if (counts(b) > 0) { out(o) = b.toLong; o += 1 }
      b += 1
    }
    out
  }

  /** One linear scan (the pipeline in the class doc, 'A'..'Z' folded on the
    * fly) over `s`, which must be [[FoldsCase.scanText]]'s output. Adds each
    * kept token's count to `counts(bucket)`, `counts.length` buckets, and
    * returns the number of distinct buckets hit. Static so
    * whole-stage-generated Java calls it directly — the body is a tight char
    * loop, not expression-tree work, so a method call costs nothing and
    * keeps the generated method small. Shared with [[CleanTokenTf]]. */
  def scan(s: String, stopSet: java.util.HashSet[String],
           counts: Array[Int]): Int = {
    var nSeen = 0
    val sb = new java.lang.StringBuilder(24)
    var i = 0
    val n = s.length
    while (i <= n) {
      // virtual terminator flushes
      val c = if (i < n) FoldsCase.foldAscii(s.charAt(i)) else ' '
      val deleted = (c >= '0' && c <= '9') || c == ',' || c == ':' ||
        c == ';' || c == '?' || c == '!'
      if (!deleted) {
        // Java regex \w (ASCII): [a-zA-Z0-9_] — digits unreachable here,
        // capitals folded above
        val word = (c >= 'a' && c <= 'z') || c == '_'
        if (word) sb.append(c)
        else {
          if (sb.length >= 3) { // \b\w{1,2}\b deleted 1-2 char runs
            val tok = sb.toString
            if (!stopSet.contains(tok)) {
              val b = graft.text.Murmur3.bucket(tok, counts.length, 42)
              if (counts(b) == 0) nSeen += 1
              counts(b) += 1
            }
          }
          if (sb.length > 0) sb.setLength(0)
        }
      }
      i += 1
    }
    nSeen
  }
}
