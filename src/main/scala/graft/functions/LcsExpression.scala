package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `lcs_len(a, b)` — length of the longest common subsequence of two
  * token arrays, the kernel of ROUGE-L (Lin, "ROUGE: a package for
  * automatic evaluation of summaries", ACL 2004 Workshop §3.1).
  *
  * Why an expression and not SQL: the LCS recurrence
  * `dp[i][j] = max(dp[i-1][j], dp[i][j-1], dp[i-1][j-1] + eq)` is a
  * sequential DP that relational operators can't express directly
  * (the DuckDB oracle replays it as a RECURSIVE CTE carrying the DP
  * row as a LIST — [[graft.operators.Preference.rougePairsSql]], the
  * `unigramSegmentPinnedSql` sliding-state precedent). Per-row
  * evaluation is O(|a|·|b|) time and O(|b|) space (two rolling rows),
  * entirely scan-side: no shuffle, no state beyond the two rows, and
  * whole-stage codegen stays intact because the generated code is a
  * single static call (the [[MinHashSig]] discipline).
  *
  * Null handling is the BinaryExpression default (null-intolerant):
  * a NULL input array yields NULL, not 0 — callers with nullable
  * text must coalesce upstream. An EMPTY array scores 0. Null
  * ELEMENTS never match (split() arrays carry none; defensive only).
  */
case class LcsLen(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "lcs_len expects (array<string>, array<string>); got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "lcs_len"

  override def nullSafeEval(a: Any, b: Any): Any =
    LcsLen.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.LcsLen.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LcsLen {
  /** Static kernel shared by eval and generated code. Classic LCS DP
    * with two rolling int rows over the shorter-as-inner layout left
    * to the caller (cost is symmetric; ROUGE callers pre-slice both
    * sides to a bounded prefix, so no reordering is needed). */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0L
    val bs = new Array[UTF8String](m)
    var j = 0
    while (j < m) {
      bs(j) = if (b.isNullAt(j)) null else b.getUTF8String(j)
      j += 1
    }
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < n) {
      val ai = if (a.isNullAt(i)) null else a.getUTF8String(i)
      j = 1
      while (j <= m) {
        val diag =
          if (ai != null && bs(j - 1) != null && ai.equals(bs(j - 1)))
            prev(j - 1) + 1
          else 0
        var best = prev(j)
        if (cur(j - 1) > best) best = cur(j - 1)
        if (diag > best) best = diag
        cur(j) = best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      cur(0) = 0
      i += 1
    }
    prev(m).toLong
  }
}
