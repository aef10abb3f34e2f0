package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd intersection SIZE of two ASCENDING-sorted long-array
  * columns by two-pointer merge — the verification kernel of the
  * set-similarity joins (`prefixJaccardPairs`), where the per-pair hot
  * loop runs once per CANDIDATE pair (millions of times per corpus).
  *
  * Spark's built-in `array_intersect` materializes a hash set per row
  * and an output array this caller immediately reduces to `size(...)`;
  * on sorted inputs the merge needs no allocation and no hashing at
  * all — one branchy loop over the two packed long arrays (same
  * rationale as [[FloatVecDot]] vs `aggregate(zip_with(...))`).
  *
  * REQUIRES both arrays sorted ascending with unique elements (the
  * caller's arrays are `sort_array(collect_list(tid))` over per-doc
  * DISTINCT token ids); on unsorted input the count is undefined —
  * this is a kernel for the operators in this repo, not a general SQL
  * surface. */
case class SortedLongInterSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    // containsNull = true is REJECTED, not just documented: a null
    // element would make getLong undefined (garbage count) rather than
    // fail — the callers' sort_array(collect_list(...)) arrays type as
    // containsNull = false
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, false) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_inter_size expects two array<bigint> (no null elements) " +
        s"arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_inter_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1L; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
