package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** `zvalue(bits, c1, c2, ..., cn)` — Morton (Z-order) interleave of the
  * low `bits` bits of n integer columns into one long: output bit
  * `i*n + j` is bit `i` of column `j`. Sorting or range-partitioning by
  * the z-value clusters rows that are close in EVERY dimension into the
  * same files/row-groups, so per-file min/max statistics prune
  * multi-dimensional range predicates — the data-layout half of
  * data-skipping at 100 TB, where a scan that touches 1/50th of the
  * files is the difference between minutes and hours (same layout idea
  * as Delta/Iceberg `OPTIMIZE ZORDER BY`; the interleave itself is
  * Morton 1966).
  *
  * Inputs are expected pre-scaled to non-negative codes below
  * `2^bits` ([[graft.operators.Maintenance.zorderLayout]] does min/max
  * scaling); higher bits are ignored. `bits` is a foldable literal and
  * `n * bits` must fit in 63 bits. The loop is codegen'd with constant
  * bounds — scan-side map work, no shuffle, no UDF.
  */
case class ZValue(children: Seq[Expression]) extends Expression {

  private def bitsExpr: Expression = children.head
  private def cols: Seq[Expression] = children.tail

  private lazy val bits: Int =
    bitsExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    def integral(t: DataType): Boolean = t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (children.size < 2)
      TypeCheckResult.TypeCheckFailure(
        "zvalue expects (bits, col1[, col2, ...])")
    else if (!bitsExpr.foldable || !integral(bitsExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"zvalue bits must be an integer literal, got ${bitsExpr.sql}")
    else if (cols.exists(c => !integral(c.dataType)))
      TypeCheckResult.TypeCheckFailure(
        s"zvalue columns must be integral, got " +
          cols.map(_.dataType.simpleString).mkString(", "))
    else if (bits < 1 || bits * cols.size > 63)
      TypeCheckResult.TypeCheckFailure(
        s"zvalue needs 1 <= bits ($bits) and n*bits (${bits * cols.size}) <= 63")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = cols.exists(_.nullable)
  override def prettyName: String = "zvalue"

  override def eval(input: InternalRow): Any = {
    val n = cols.size
    var acc = 0L
    var j = 0
    while (j < n) {
      val v = cols(j).eval(input)
      if (v == null) return null
      val x = v.asInstanceOf[Number].longValue()
      var i = 0
      while (i < bits) {
        acc |= ((x >> i) & 1L) << (i * n + j)
        i += 1
      }
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = cols.size
    val evs = cols.map(_.genCode(ctx))
    val parts = evs.zipWithIndex.map { case (e, j) =>
      val i = ctx.freshName("i")
      s"""
         |${e.code}
         |if (${e.isNull}) {
         |  ${ev.isNull} = true;
         |} else if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $bits; $i++) {
         |    ${ev.value} |= (((long) ${e.value} >> $i) & 1L) << ($i * $n + $j);
         |  }
         |}
       """.stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
        |boolean ${ev.isNull} = false;
        |long ${ev.value} = 0L;
        |$parts
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
