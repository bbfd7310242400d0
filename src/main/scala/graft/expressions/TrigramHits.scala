package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of (overlapping) character-trigram positions of `lower(child)`
  * that match one of the `profile` trigrams — the inner loop of the n-gram
  * language heuristic.
  *
  * Semantically identical to
  * `size(filter(charTrigrams(lower(s)), t -> t.isin(profile)))` but a
  * single char-compare scan with no allocation beyond the decoded string
  * on ASCII rows: the Column form materializes a ~|s|-element substring
  * array per row and runs one interpreted filter per language, at a
  * measured ~0.2 ms/doc — 10× the cost of every other text-quality
  * signal. Profiles are tiny (≤ 8 trigrams), so per-position
  * matching is ≤ 24 char compares, break on hit.
  *
  * CONTRACT: the child is the RAW text, a UTF8_BINARY string; the kernel
  * lowercases it exactly as `lower(text)` would ([[FoldsCase]]: 'A'..'Z'
  * folded in the scan, non-ASCII rows lowercased whole first), so callers
  * pass no `lower()` and its cold-JVM ICU table build stays off the path.
  * Matching operates on UTF-16 code units of the lowercased string, exactly
  * like `Column.substr` does on the array form, so the two formulations
  * stay bit-identical on any input (the gate's DuckDB oracle replays the
  * array form in SQL).
  */
case class TrigramHits(child: Expression, profile: Seq[String])
    extends UnaryExpression with FoldsCase {
  require(profile.nonEmpty && profile.forall(_.length == 3),
    "profile must be non-empty 3-char strings")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_trigram_hits"

  private lazy val profileArr: Array[String] = profile.toArray

  override def nullSafeEval(input: Any): Any =
    TrigramHits.count(FoldsCase.scanText(input.asInstanceOf[UTF8String], useICU),
      profileArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val profRef = ctx.addReferenceObj("graftTrigramProfile", profileArr,
      "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, in => {
      s"""
      ${ev.value} = graft.expressions.TrigramHits$$.MODULE$$.count(
        graft.expressions.FoldsCase$$.MODULE$$.scanText($in, $useICU), $profRef);"""
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TrigramHits {

  /** Trigram positions of `s` (a [[FoldsCase.scanText]] output, 'A'..'Z'
    * folded here) matching a `profile` entry. */
  def count(s: String, profile: Array[String]): Int = {
    var hits = 0
    if (s.length >= 3) {
      var c1 = FoldsCase.foldAscii(s.charAt(0))
      var c2 = FoldsCase.foldAscii(s.charAt(1))
      var i = 2
      while (i < s.length) {
        val c0 = c1
        c1 = c2
        c2 = FoldsCase.foldAscii(s.charAt(i))
        var j = 0
        var hit = false
        while (j < profile.length && !hit) {
          val p = profile(j)
          hit = c0 == p.charAt(0) && c1 == p.charAt(1) && c2 == p.charAt(2)
          j += 1
        }
        if (hit) hits += 1
        i += 1
      }
    }
    hits
  }
}
