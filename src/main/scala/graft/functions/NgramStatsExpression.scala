package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row word n-gram statistics: `ngram_stats(tokens, n)` returns
  * `struct(n_ngrams, n_distinct_ngrams)` over the token array's
  * consecutive n-grams, in one pass.
  *
  * Why an expression and not
  * `size(array_distinct(transform(sequence(...), i -> concat_ws(...))))`:
  * higher-order functions are interpreted (no whole-stage codegen), so
  * the lambda machinery runs per n-gram per row — measured ~60×
  * slower than a compiled kernel on hot paths (see
  * [[graft.functions.FloatVecDot]]'s history). This kernel is a single
  * static call inside generated code, allocates one hash set per row,
  * and never materializes the n-gram array. Counting is EXACT (the set
  * holds the n-gram strings, not hashes) — the quality-rule oracle
  * demands exact distinct counts.
  *
  * Rows with fewer than n tokens return (0, 0); callers filter on
  * `size(tokens) >= n` when they want such docs excluded.
  */
case class NgramStats(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ngram_stats expects array<string>, n >= 1; got " +
        s"${child.dataType.simpleString}, n=$n")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_ngrams", LongType, nullable = false),
    StructField("n_distinct_ngrams", LongType, nullable = false)))
  override def prettyName: String = "ngram_stats"

  override def nullSafeEval(input: Any): Any =
    NgramStats.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NgramStats.compute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramStats {
  private val Space = UTF8String.fromString(" ")

  /** Static kernel shared by eval and generated code. */
  def compute(toks: ArrayData, n: Int): InternalRow = {
    val total = toks.numElements() - n + 1
    if (total <= 0) return new GenericInternalRow(Array[Any](0L, 0L))
    val seen = new java.util.HashSet[UTF8String](total * 2)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < total) {
      var j = 0
      while (j < n) { window(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, window: _*))
      i += 1
    }
    new GenericInternalRow(Array[Any](total.toLong, seen.size.toLong))
  }
}
