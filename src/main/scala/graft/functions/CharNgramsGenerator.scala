package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `char_ngrams(text, n)` — a table-generating (UDTF-style) Catalyst
  * [[Generator]]: one input row fans out to every overlapping
  * character n-gram of `text` (length−n+1 rows; none when the text is
  * shorter than n or NULL). This is the engine's custom-Generator
  * surface — the generator analogue of `explode`/`posexplode`,
  * completing the custom-expression kinds next to the scalar codegen
  * expressions (FloatVecDot, MinHashSig), the imperative aggregates
  * (SimHashAgg, TopKSketchAgg) and the whole-operator plan
  * (TopKPerGroup).
  *
  * Why a Generator and not `explode(transform(sequence(...)))`: the
  * built-in formulation materializes the full gram ARRAY per row in
  * the expression evaluator before exploding — a 1 MB document becomes
  * a ~4 MB transient array, resident per in-flight row. The Generator
  * streams grams one at a time through `Generate`'s row iterator
  * (O(n) transient state per row), which is what lets the same plan
  * survive documents of arbitrary length at scale. Substring indexing
  * is code-point based (`UTF8String.substring`), matching DuckDB's
  * character `substr` for the oracle replay.
  *
  * Dedup.scala / TextAnalysis shingle pipelines intentionally keep the
  * array formulation where the downstream op needs the whole gram SET
  * per document anyway (minhash signatures); use `char_ngrams` when
  * the grams feed a row-stream consumer (counting, inverted indexes).
  */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams requires n >= 1; got n=$n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects a string column; got ${other.simpleString}")
  }

  override def elementSchema: StructType =
    new StructType().add("gram", StringType, nullable = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val s = v.asInstanceOf[UTF8String]
      val len = s.numChars()
      if (len < n) Iterator.empty
      else Iterator.range(0, len - n + 1)
        .map(i => InternalRow(s.substring(i, i + n)))
    }
  }

  override def prettyName: String = "char_ngrams"

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}
