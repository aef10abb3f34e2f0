package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `poly_hash62(str)` — a 62-bit ENGINE-PORTABLE string hash: two
  * independent polynomial folds over the code-point sequence,
  * `h_b = fold(cp -> (h*b + cp) mod (2^31-1))` with bases 131 and 137,
  * packed as `h_131 | (h_137 << 31)`.
  *
  * Why it exists next to `xxhash64`: the fingerprint operators
  * (SimHash, winnowing) need a token/gram hash that a DIFFERENT SQL
  * engine can replay exactly — the correctness oracle (DuckDB) has no
  * xxhash64, but a polynomial fold is four arithmetic ops expressible
  * in any dialect (`list_reduce` over `unicode(substr(...))` on the
  * DuckDB side). The fold is codegen'd and cheaper than xxhash64 for
  * short tokens (k multiply-adds, no finalization mix); 2×31 bits of
  * avalanche-free polynomial mixing is plenty for LSH banding and
  * winnowing minima, which only need uniformity, not adversarial
  * collision resistance. Bits 62-63 are always 0 — fingerprint
  * consumers treat the value as a 62-bit hash.
  */
case class PolyHash62(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"poly_hash62 expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash62"

  override def nullSafeEval(input: Any): Any =
    PolyHash62.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PolyHash62.hash($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHash62 {
  /** 2^31 - 1 (Mersenne): keeps `h*137 + cp` < 2^39, no Long overflow. */
  final val Mod = 2147483647L
  final val Base1 = 131L
  final val Base2 = 137L

  def hash(s: UTF8String): Long = {
    if (s.numBytes == s.numChars) {
      // ASCII fast path: byte i IS code point i, no decode, no copy
      val n = s.numBytes
      var h1 = 0L; var h2 = 0L
      var i = 0
      while (i < n) {
        val cp = s.getByte(i).toLong & 0xffL
        h1 = (h1 * Base1 + cp) % Mod
        h2 = (h2 * Base2 + cp) % Mod
        i += 1
      }
      h1 | (h2 << 31)
    } else hashCodePoints(s.toString)
  }

  /** Code-point fold (matches DuckDB `unicode(substr(s, j, 1))`
    * iteration order for any text). */
  def hashCodePoints(str: String): Long = {
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h1 = (h1 * Base1 + cp) % Mod
      h2 = (h2 * Base2 + cp) % Mod
      i += Character.charCount(cp)
    }
    h1 | (h2 << 31)
  }

  /** Fold over a code-point slice [from, from+len) of a precomputed
    * array — the winnowing gram path. */
  def hashSlice(cps: Array[Int], from: Int, len: Int): Long = {
    var h1 = 0L; var h2 = 0L
    var i = from
    val end = from + len
    while (i < end) {
      val cp = cps(i).toLong
      h1 = (h1 * Base1 + cp) % Mod
      h2 = (h2 * Base2 + cp) % Mod
      i += 1
    }
    h1 | (h2 << 31)
  }
}
