package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** SimHash as a native aggregate: given per-row (tokenHash: long,
  * weight: long), maintains 64 signed bit-counters and finalizes to the
  * packed 64-bit SimHash (bit i set iff the weighted majority of token
  * hashes has bit i set; ties set the bit).
  *
  * Why a custom `TypedImperativeAggregate`: the pure-DataFrame
  * formulation must explode every (doc, token) row into 64 (doc, bit)
  * rows and shuffle them — a 64x row blow-up. This aggregate keeps the
  * 64 counters as a single 512-byte buffer that partial-aggregates
  * map-side and merges by element-wise addition, so the shuffle carries
  * one buffer per group, exactly like Spark's own HLL sketch aggregate.
  */
case class SimHashAgg(
    hashChild: Expression,
    weightChild: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(hashChild, weightChild)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "simhash_agg expects (bigint hash, bigint weight)")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val h = hashChild.eval(input)
    val w = weightChild.eval(input)
    if (h != null && w != null) {
      val hash = h.asInstanceOf[Long]
      val weight = w.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        if (((hash >>> i) & 1L) == 1L) buffer(i) += weight
        else buffer(i) -= weight
        i += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Long]): Any = {
    var out = 0L
    var i = 0
    while (i < 64) {
      if (buffer(i) >= 0) out |= (1L << i)
      i += 1
    }
    out
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hashChild = newChildren(0), weightChild = newChildren(1))
}

/** Per-row SimHash of a token array: one pass over the token INSTANCES
  * (term-frequency weighting is exactly "one vote per occurrence", so
  * no per-doc tf map is needed), each hashed with the engine-portable
  * [[PolyHash62]] — bit-for-bit the result of
  * `simhash_agg(poly_hash62(tok), tf)` over the exploded/grouped
  * formulation, without the two shuffles of the token stream that
  * formulation costs, and exactly replayable by the DuckDB oracle
  * (which xxhash64 was not). [[SimHashAgg]] remains the
  * incremental/streaming face of the same fingerprint. */
case class SimHashDoc(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHashDoc.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHashDoc.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashDoc {
  def compute(toks: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val counters = new Array[Long](64)
    val n = toks.numElements()
    var t = 0
    while (t < n) {
      val h = PolyHash62.hash(toks.getUTF8String(t))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counters(i) += 1L else counters(i) -= 1L
        i += 1
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counters(i) >= 0) out |= (1L << i); i += 1 }
    out
  }
}
