package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Shared argument extraction for the function builders that take
  * compile-time integer parameters (k, n, bands, capacity, ...).
  *
  * Every graft function with a static-int argument reads it through
  * [[intLit]] in its [[Registry]] builder, so a bad call —
  * `char_ngrams(text, NULL)`, `topk_sketch(c, k_col, 64)` — fails as a
  * clean AnalysisException at analysis time instead of an
  * NPE/ClassCastException inside the builder.
  */
object FunctionArgs {

  /** Argument `idx` of `fn` as a foldable, non-null integral literal. */
  def intLit(fn: String, exprs: Seq[Expression], idx: Int): Int = {
    if (exprs.length <= idx)
      fail(s"$fn expects at least ${idx + 1} arguments, got ${exprs.length}")
    val e = exprs(idx)
    if (!e.foldable)
      fail(s"$fn: argument ${idx + 1} must be a literal integer, " +
        s"got non-foldable expression ${e.sql}")
    e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case dt => fail(s"$fn: argument ${idx + 1} must be an integer " +
        s"literal, got ${dt.simpleString}")
    }
    e.eval() match {
      case null => fail(s"$fn: argument ${idx + 1} must not be NULL")
      case v => v.asInstanceOf[Number].intValue()
    }
  }

  private def fail(msg: String): Nothing =
    throw new AnalysisException("_LEGACY_ERROR_TEMP_3100",
      Map("message" -> msg))
}
