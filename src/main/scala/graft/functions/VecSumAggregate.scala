package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Element-wise vector sum aggregate over a float-array column:
  * `vec_sum(embedding)` → `struct(sum: array<double>, n: bigint)`.
  *
  * The centroid-recompute primitive of k-means: per-group state is one
  * double[dim] + a count — bounded by the embedding dimension, not the
  * group size — and merges by element-wise addition, so the map-side
  * partial does almost all the work and the shuffle carries k·dim
  * doubles total. The alternative (64 separate
  * `avg(element_at(...))` aggregates) generates enormous Janino code;
  * `posexplode` + per-(cluster, pos) avg shuffles dim× more rows.
  * Sums are doubles to keep float accumulation error out of the
  * centroid update. Null/mismatched-length vectors are skipped.
  */
case class VecSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumAgg.Buf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("sum", ArrayType(DoubleType, containsNull = false)),
    StructField("n", LongType)))
  override def prettyName: String = "vec_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_sum expects array<float>; got ${child.dataType.simpleString}")
  }

  override def createAggregationBuffer(): VecSumAgg.Buf =
    new VecSumAgg.Buf(null, 0L)

  override def update(buf: VecSumAgg.Buf, input: InternalRow): VecSumAgg.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val d = arr.numElements()
      if (buf.sum == null) buf.sum = new Array[Double](d)
      if (buf.sum.length == d) {
        var i = 0
        while (i < d) { buf.sum(i) += arr.getFloat(i); i += 1 }
        buf.n += 1
      }
    }
    buf
  }

  override def merge(b1: VecSumAgg.Buf, b2: VecSumAgg.Buf): VecSumAgg.Buf = {
    if (b2.sum != null) {
      if (b1.sum == null) { b1.sum = b2.sum; b1.n = b2.n }
      else if (b1.sum.length == b2.sum.length) {
        var i = 0
        while (i < b1.sum.length) { b1.sum(i) += b2.sum(i); i += 1 }
        b1.n += b2.n
      }
    }
    b1
  }

  override def eval(buf: VecSumAgg.Buf): Any = {
    val s = if (buf.sum == null) Array.empty[Double] else buf.sum
    new GenericInternalRow(Array[Any](new GenericArrayData(s), buf.n))
  }

  override def serialize(buf: VecSumAgg.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val d = if (buf.sum == null) -1 else buf.sum.length
    out.writeInt(d)
    if (d >= 0) { buf.sum.foreach(out.writeDouble); out.writeLong(buf.n) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecSumAgg.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val d = in.readInt()
    if (d < 0) new VecSumAgg.Buf(null, 0L)
    else {
      val s = Array.fill(d)(in.readDouble())
      new VecSumAgg.Buf(s, in.readLong())
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object VecSumAgg {
  final class Buf(var sum: Array[Double], var n: Long)
}
