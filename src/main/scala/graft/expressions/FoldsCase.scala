package graft.expressions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** A text kernel that takes the RAW text and sees it lowercased exactly as
  * Spark's `lower()` would produce it, without a `Lower` expression in the
  * plan. `Lower` on a cold JVM pays `CollationAwareUTF8String`'s static
  * initializer, which asks ICU for the title case of all 1 114 112 code
  * points (a table `lower()` never reads): 1.5-1.9 s of CPU on the first
  * call (JDK 17, 4-core x86 host), with every other task thread blocked on
  * the class init. ICU's own `UCharacter.toLowerCase` costs 0.02-0.03 s
  * cold.
  *
  * Full-ASCII rows (the common case) get no lowered copy: the kernel's own
  * char loop folds 'A'..'Z' (+32), which is `toLowerCaseAscii`. Other rows
  * are lowercased whole by [[FoldsCase.scanText]] BEFORE the scan, because
  * the mapping can change the length or produce ASCII letters (U+0130 'İ' →
  * "i̇", the Kelvin sign → 'k'); the scan's fold is then a no-op.
  *
  * Only UTF8_BINARY strings are accepted: `Lower` under any other collation
  * follows different rules, which this does not replay.
  */
trait FoldsCase extends Expression {
  def child: Expression

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StringType if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName lowercases UTF8_BINARY strings only, got ${other.sql}")
  }

  /** `Lower.useICU`: Spark's `spark.sql.icu.caseMappings.enabled`, read the
    * same way (lazily, from the active conf). Generated code bakes in the
    * value seen at code generation, as `Lower.doGenCode` does. */
  lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}

object FoldsCase {

  /** The string a case-folding scan reads for `u`: `u` itself when it is
    * full ASCII (the scan folds 'A'..'Z'), else `lower(u)` as Spark 4.1.2
    * computes it for UTF8_BINARY — ICU's `UCharacter.toLowerCase` of the
    * valid string with ICU case mappings on (`CollationAwareUTF8String
    * .toLowerCaseSlow`, without touching that class), `UTF8String
    * .toLowerCase` with them off (`Lower.execBinary`). Both lowered strings
    * are well-formed UTF-16, so skipping their UTF-8 round trip changes no
    * char. */
  def scanText(u: UTF8String, useICU: Boolean): String =
    if (u.isFullAscii) u.toString
    else if (useICU) UCharacter.toLowerCase(u.toValidString)
    else u.toLowerCase.toString

  /** 'A'..'Z' to 'a'..'z', every other char unchanged. */
  @inline def foldAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
}
