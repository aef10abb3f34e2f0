package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature of a token array, computed per-row in one pass.
  *
  * `minhash_sig(tokens, k, numPerm)` hashes every word k-gram of
  * `tokens` and keeps, for each of `numPerm` seeded rehashes, the
  * minimum — the classic MinHash signature, equivalent to hashing the
  * distinct shingle set (min is idempotent under duplicates).
  *
  * Why an expression and not `explode + groupBy(doc).agg(64 x min)`:
  * the agg formulation explodes every shingle into a row, shuffles the
  * whole shingle stream back to the doc key, and generates enormous
  * Janino code for the 64 aggregate buffers (~10 s one-time compile in
  * benchmarks). Per-row evaluation needs no shuffle at all, the
  * generated code is a single static call, and each token is hashed
  * once (shingle hashes are composed from per-token hashes with a
  * 64-bit mix chain instead of re-hashing the string k times).
  *
  * Docs with fewer than k tokens yield the neutral all-Long.MaxValue
  * signature; callers filter `size(tokens) >= k` (as the shingle-based
  * operators do).
  */
case class MinHashSig(child: Expression, k: Int, numPerm: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 && numPerm >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, k >= 1, numPerm >= 1; got " +
        s"${child.dataType.simpleString}, k=$k, numPerm=$numPerm")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], k, numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashSig.compute($a, $k, $numPerm);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Seed for the per-token base hash. */
  private final val TokenSeed = 42L

  /** Static kernel shared by eval and generated code (a one-line call
    * keeps whole-stage codegen intact without inlining the loop). */
  def compute(toks: ArrayData, k: Int, numPerm: Int): ArrayData = {
    val n = toks.numElements()
    val tokH = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      tokH(i) = XXH64.hashUnsafeBytes(
        t.getBaseObject, t.getBaseOffset, t.numBytes, TokenSeed)
      i += 1
    }
    val mins = Array.fill(numPerm)(Long.MaxValue)
    i = 0
    while (i <= n - k) {
      var h = tokH(i)
      var j = 1
      while (j < k) { h = XXH64.hashLong(tokH(i + j), h); j += 1 }
      var s = 0
      while (s < numPerm) {
        val hs = XXH64.hashLong(h, s)
        if (hs < mins(s)) mins(s) = hs
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** LSH band keys of a MinHash signature: splits the signature into
  * `bands` equal bands and mix-hashes each band's values together with
  * the band index, so a single long is the collision key (two docs
  * collide iff some band agrees on every row — joining on the one
  * column is equivalent to joining on (band_idx, band_values)).
  *
  * The signature length must be a positive multiple of `bands`
  * (`numPerm % bands == 0` and `numPerm >= bands`); anything else is a
  * runtime error rather than a silent degradation — with `rows = 0`
  * every band key would be content-independent and every document
  * would collide with every other.
  */
case class MinHashBands(child: Expression, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bands >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects array<bigint> whose length is a positive " +
        s"multiple of bands, bands >= 1; got " +
        s"${child.dataType.simpleString}, bands=$bands")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashBands.compute($a, $bands);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {
  def compute(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    if (n < bands || n % bands != 0) {
      throw new IllegalArgumentException(
        s"minhash_bands: signature length $n must be a positive multiple " +
          s"of bands=$bands (rows per band = n / bands must be >= 1 and exact)")
    }
    val rows = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashLong(b.toLong, 7919L)
      var r = 0
      while (r < rows) { h = XXH64.hashLong(sig.getLong(b * rows + r), h); r += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}
