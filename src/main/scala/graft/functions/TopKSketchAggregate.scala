package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Space-Saving heavy hitters (Metwally et al., "Efficient computation
  * of frequent and top-k elements in data streams"): tracks at most
  * `capacity` counters; an unseen item evicts the minimum counter and
  * inherits its count (the classic overestimate-bounded scheme).
  * Finalizes to a map item → estimated count of the top `k` items.
  *
  * Why custom: exact top-k-by-frequency needs a full groupBy-count
  * shuffle of every distinct item; at 100 TB of tokens that is the
  * biggest shuffle in the pipeline. The sketch bounds state at
  * `capacity` counters per partial buffer, merges by counter addition
  * (a standard mergeable-summary property), and shuffles only buffers.
  * Guarantee: any item with true frequency > N/capacity is retained.
  */
case class TopKSketchAgg(
    child: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LinkedHashMap[String, (Long, Long)]] {

  // value = (count, maxError): error tracks inherited counts on evict
  type Buf = mutable.LinkedHashMap[String, (Long, Long)]

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, LongType)
  override def prettyName: String = "topk_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("topk_sketch expects a string column")

  override def createAggregationBuffer(): Buf = mutable.LinkedHashMap.empty

  private def add(buf: Buf, item: String, count: Long, err: Long): Unit = {
    buf.get(item) match {
      case Some((c, e)) => buf.update(item, (c + count, e + err))
      case None if buf.size < capacity => buf.update(item, (count, err))
      case None =>
        // evict the min counter; the newcomer inherits its count as error
        val (minItem, (minC, _)) = buf.minBy(_._2._1)
        buf.remove(minItem)
        buf.update(item, (minC + count, minC + err))
    }
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String].toString, 1L, 0L)
    buf
  }

  override def merge(b1: Buf, b2: Buf): Buf = {
    b2.foreach { case (item, (c, e)) => add(b1, item, c, e) }
    b1
  }

  override def eval(buf: Buf): Any = {
    val top = buf.toSeq.sortBy { case (item, (c, _)) => (-c, item) }.take(k)
    new ArrayBasedMapData(
      new GenericArrayData(top.map(t => UTF8String.fromString(t._1)).toArray[Any]),
      new GenericArrayData(top.map(_._2._1).toArray[Any]))
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (item, (c, e)) =>
      out.writeUTF(item); out.writeLong(c); out.writeLong(e)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf: Buf = mutable.LinkedHashMap.empty
    (0 until n).foreach { _ =>
      val item = in.readUTF(); val c = in.readLong(); val e = in.readLong()
      buf.update(item, (c, e))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
