package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (the MOSS scheme) of a text column, computed
  * per-row in one pass: hash every k-char gram, keep the minimum of
  * each w-gram window, return the distinct minima sorted ascending.
  * Guarantees any shared substring of length ≥ k+w-1 yields a shared
  * fingerprint.
  *
  * Replaces the `transform(sequence(...)) + slice + array_min +
  * array_distinct` formulation: higher-order functions evaluate
  * interpreted (a closure call per element), while this kernel is a
  * single static call from generated code. Gram hashes are the
  * engine-portable [[PolyHash62]] code-point fold, so the full
  * fingerprint selection — gram hash, window minima, distinct — is
  * replayed exactly by the DuckDB oracle (`list_reduce` over
  * `unicode(substr(...))` + a windowed `min`), which the previous
  * xxhash64 grams were not.
  *
  * Texts shorter than k+w-1 code points yield an empty array (explode
  * then emits no rows, the same drop the length filter used to do).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k >= 1 && w >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects string, k >= 1, w >= 1; got " +
        s"${child.dataType.simpleString}, k=$k, w=$w")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WinnowFingerprints.compute($a, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {
  def compute(s: UTF8String, k: Int, w: Int): GenericArrayData = {
    val nChars = s.numChars()
    if (nChars < k + w - 1) return new GenericArrayData(Array.emptyLongArray)
    val nGrams = nChars - k + 1
    val grams = new Array[Long](nGrams)
    if (s.numBytes() == nChars) {
      // ASCII: byte i IS code point i — fold slices in place, no decode
      var i = 0
      while (i < nGrams) {
        var h1 = 0L; var h2 = 0L
        var j = 0
        while (j < k) {
          val cp = s.getByte(i + j).toLong & 0xffL
          h1 = (h1 * PolyHash62.Base1 + cp) % PolyHash62.Mod
          h2 = (h2 * PolyHash62.Base2 + cp) % PolyHash62.Mod
          j += 1
        }
        grams(i) = h1 | (h2 << 31)
        i += 1
      }
    } else {
      val cps = s.toString.codePoints().toArray
      var i = 0
      while (i < nGrams) {
        grams(i) = PolyHash62.hashSlice(cps, i, k)
        i += 1
      }
    }
    val nWin = nGrams - w + 1
    val minima = new Array[Long](nWin)
    var j = 0
    while (j < nWin) {
      var m = grams(j)
      var t = 1
      while (t < w) { if (grams(j + t) < m) m = grams(j + t); t += 1 }
      minima(j) = m
      j += 1
    }
    java.util.Arrays.sort(minima)
    var out = 0
    var i = 0
    while (i < nWin) {
      if (out == 0 || minima(i) != minima(out - 1)) {
        minima(out) = minima(i); out += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(minima, out))
  }
}
