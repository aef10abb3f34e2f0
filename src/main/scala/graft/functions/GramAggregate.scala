package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Upper-triangular second-moment aggregate over a float-array column:
  * `vec_gram(embedding)` → `struct(gram: array<double>, n: bigint)`,
  * where `gram(idx(i,j)) = Σ_rows x_i·x_j` for `i ≤ j`, row-major
  * triangle order (`idx(i,j) = i·d − i(i−1)/2 + (j−i)`).
  *
  * The covariance primitive of distributed PCA: per-group state is one
  * double[d(d+1)/2] — bounded by the embedding dimension, never by the
  * row count — and merges by element-wise addition, so map-side
  * partials do all the O(rows·d²) work and the shuffle carries one
  * triangle per partition (2080 doubles at d=64). The full symmetric
  * matrix, a covariance, and its eigenvectors are all k×k driver math
  * downstream of this single streaming pass. Null/mismatched-length
  * vectors are skipped, matching [[VecSumAgg]].
  */
case class GramAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramAgg.Buf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("gram", ArrayType(DoubleType, containsNull = false)),
    StructField("n", LongType)))
  override def prettyName: String = "vec_gram"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_gram expects array<float>; got ${child.dataType.simpleString}")
  }

  override def createAggregationBuffer(): GramAgg.Buf =
    new GramAgg.Buf(null, 0, 0L)

  override def update(buf: GramAgg.Buf, input: InternalRow): GramAgg.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val d = arr.numElements()
      if (buf.gram == null) {
        buf.gram = new Array[Double](d * (d + 1) / 2)
        buf.dim = d
      }
      if (buf.dim == d) {
        val x = new Array[Double](d)
        var i = 0
        while (i < d) { x(i) = arr.getFloat(i); i += 1 }
        var idx = 0
        i = 0
        while (i < d) {
          val xi = x(i)
          var j = i
          while (j < d) { buf.gram(idx) += xi * x(j); idx += 1; j += 1 }
          i += 1
        }
        buf.n += 1
      }
    }
    buf
  }

  override def merge(b1: GramAgg.Buf, b2: GramAgg.Buf): GramAgg.Buf = {
    if (b2.gram != null) {
      if (b1.gram == null) { b1.gram = b2.gram; b1.dim = b2.dim; b1.n = b2.n }
      else if (b1.dim == b2.dim) {
        var i = 0
        while (i < b1.gram.length) { b1.gram(i) += b2.gram(i); i += 1 }
        b1.n += b2.n
      }
    }
    b1
  }

  override def eval(buf: GramAgg.Buf): Any = {
    val g = if (buf.gram == null) Array.empty[Double] else buf.gram
    new GenericInternalRow(Array[Any](new GenericArrayData(g), buf.n))
  }

  override def serialize(buf: GramAgg.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.dim)
    if (buf.gram != null) {
      buf.gram.foreach(out.writeDouble)
      out.writeLong(buf.n)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): GramAgg.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val d = in.readInt()
    if (d == 0) new GramAgg.Buf(null, 0, 0L)
    else {
      val g = Array.fill(d * (d + 1) / 2)(in.readDouble())
      new GramAgg.Buf(g, d, in.readLong())
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object GramAgg {
  final class Buf(var gram: Array[Double], var dim: Int, var n: Long)
}
