package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType}

/** One full-batch logistic-regression gradient pass as a SINGLE
  * aggregate: `logreg_grad(idxs, n_toks, label, weights, with_loss)`
  * → `array<double>` of length `dim + 2` — per-feature gradient sums
  * in slots `0 until dim`, the bias gradient sum in slot `dim`, and
  * (when `with_loss`) the log-loss sum in slot `dim + 1`, where
  * `dim = size(weights) − 1` (`weights(dim)` is the bias).
  *
  * This is the trainer kernel of `Classifier.trainLogReg`. The
  * formulation it replaces — margin via the `aggregate()`
  * higher-order function, per-token `struct(idx, g)` rows through
  * `explode`, then `groupBy(idx).sum` — pays interpreted
  * per-element lambda evaluation for the margin (higher-order
  * functions don't participate in whole-stage codegen), one struct
  * allocation + one generated row per token INSTANCE, and a
  * dim-bounded hash aggregate + exchange, all re-planned and
  * re-codegen'd EVERY iteration because the weight literal changes.
  * Here the whole pass is one tight JVM loop per row into a
  * `double[dim + 2]` partition buffer (the [[VecSumAgg]] k-means
  * discipline): state is bounded by the MODEL, the shuffle carries
  * one buffer per partition, and the per-iteration plan is a single
  * scan + ObjectHashAggregate.
  *
  * Per-row math is identical to the expression formulation: margin =
  * Σ_instances w(idx)/n_toks + w(dim) (array order), p = σ(margin),
  * err = p − label; each token instance adds err/n_toks to its
  * feature slot, each row adds err to the bias slot and (clamped to
  * [1e-12, 1−1e-12]) its log-loss to the loss slot. Partition-level
  * accumulation changes only FLOAT SUMMATION ORDER versus the hash
  * aggregate — inside the trained face's rows-only / floor-tested
  * tolerance by the twin convention (the same class of drift the
  * hash aggregate itself has across partition counts). */
case class LogRegGradAgg(
    idxs: Expression,
    nToks: Expression,
    label: Expression,
    weights: Expression,
    withLoss: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] =
    Seq(idxs, nToks, label, weights, withLoss)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "logreg_grad"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = idxs.dataType.isInstanceOf[ArrayType] &&
      idxs.dataType.asInstanceOf[ArrayType].elementType == IntegerType &&
      nToks.dataType == DoubleType && label.dataType == DoubleType &&
      weights.dataType.isInstanceOf[ArrayType] &&
      weights.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
      withLoss.dataType == BooleanType && withLoss.foldable &&
      weights.foldable
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "logreg_grad expects (array<int>, double, double, " +
        "foldable array<double>, foldable boolean); got (" +
        children.map(_.dataType.simpleString).mkString(", ") + ")")
  }

  // the weight vector and loss flag are foldable literals — evaluate
  // once per task, not per row
  @transient private lazy val w: Array[Double] = {
    val a = weights.eval(null).asInstanceOf[ArrayData]
    a.toDoubleArray()
  }
  @transient private lazy val trackLoss: Boolean =
    withLoss.eval(null).asInstanceOf[Boolean]

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](w.length + 1) // dim feature slots + bias + loss

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val iv = idxs.eval(input)
    val nv = nToks.eval(input)
    val lv = label.eval(input)
    if (iv != null && nv != null && lv != null) {
      val arr = iv.asInstanceOf[ArrayData]
      val n = nv.asInstanceOf[Double]
      val y = lv.asInstanceOf[Double]
      val dim = w.length - 1
      val m = arr.numElements()
      var s = 0.0
      var i = 0
      // FAIL LOUD on out-of-range feature indices: the function is
      // registered session-wide, and an idx == dim or dim+1 would
      // otherwise silently corrupt the bias/loss slots (the caller's
      // pmod(xxhash64, dim) indices always satisfy 0 <= idx < dim —
      // two predictable compares per token, hoisted by the JIT)
      while (i < m) {
        val ix = arr.getInt(i)
        if (ix < 0 || ix >= dim) throw new IllegalArgumentException(
          s"logreg_grad: feature index $ix outside [0, $dim)")
        s += w(ix); i += 1
      }
      val margin = s / n + w(dim)
      val p = 1.0 / (1.0 + math.exp(-margin))
      val err = p - y
      val g = err / n
      i = 0
      while (i < m) { buf(arr.getInt(i)) += g; i += 1 }
      buf(dim) += err
      if (trackLoss) {
        val pc = math.min(math.max(p, 1e-12), 1 - 1e-12)
        buf(dim + 1) += -y * math.log(pc) - (1.0 - y) * math.log(1.0 - pc)
      }
    }
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8 + 4)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach(out.writeDouble)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.fill(in.readInt())(in.readDouble())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): LogRegGradAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): LogRegGradAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(idxs = newChildren(0), nToks = newChildren(1),
      label = newChildren(2), weights = newChildren(3),
      withLoss = newChildren(4))
}
