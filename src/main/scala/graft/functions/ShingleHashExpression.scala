package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `token_shingle_hashes(text, l)` — one engine-portable 62-bit hash
  * per token position p: the [[PolyHash62]] double code-point fold
  * over the substring spanning tokens p .. p+l-1 (tokens = single
  * space split, the corpus convention; splitting on ' ' and rejoining
  * with ' ' is lossless, so the span IS a substring of the original
  * text). Array index = token position; texts with fewer than l
  * tokens yield an empty array.
  *
  * This is the shingle pass of exact-substring deduplication (Lee et
  * al., ACL'22 §4.1: a substring duplicated anywhere in the corpus is
  * exactly a run of duplicated l-token shingles). Cost is O(chars),
  * not O(chars·l): one prefix-hash pass over the code points, then
  * each span hash is two multiply-subtracts via the polynomial
  * identity h[l..r) = H[r] − H[l]·B^(r−l) (mod 2³¹−1) — products
  * stay < 2⁶², no overflow. The direct per-span fold would pay the
  * ~l× constant that makes naive shingling a non-starter on a
  * 100 TB corpus.
  *
  * Portability: the per-span result is bit-identical to folding the
  * span's code points directly, so the DuckDB oracle replays it with
  * the same `list_reduce` gram fold the winnowing faces use — no
  * prefix trick needed on the oracle side, where only correctness
  * matters.
  */
case class TokenShingleHashes(child: Expression, l: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if l >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"token_shingle_hashes expects string, l >= 1; got " +
        s"${child.dataType.simpleString}, l=$l")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    TokenShingleHashes.compute(input.asInstanceOf[UTF8String], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TokenShingleHashes.compute($a, $l);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenShingleHashes {
  import PolyHash62.{Mod, Base1, Base2}

  def compute(s: UTF8String, l: Int): GenericArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    // token boundaries: token i is the maximal space-free run; a text
    // of t tokens has t-1 separating spaces (empty tokens — from
    // consecutive spaces — are tokens too, matching split(text, ' '))
    var t = 1
    var i = 0
    while (i < n) { if (cps(i) == ' ') t += 1; i += 1 }
    if (t < l) return new GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](t) // code-point offset of token i
    val ends = new Array[Int](t)   // offset AFTER token i
    var tok = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (cps(i) == ' ') { ends(tok) = i; tok += 1; starts(tok) = i + 1 }
      i += 1
    }
    ends(tok) = n
    // prefix hashes + powers: H[i] = fold of cps[0..i), pw[i] = B^i
    val h1 = new Array[Long](n + 1); val h2 = new Array[Long](n + 1)
    val p1 = new Array[Long](n + 1); val p2 = new Array[Long](n + 1)
    p1(0) = 1L; p2(0) = 1L
    i = 0
    while (i < n) {
      val cp = cps(i).toLong
      h1(i + 1) = (h1(i) * Base1 + cp) % Mod
      h2(i + 1) = (h2(i) * Base2 + cp) % Mod
      p1(i + 1) = (p1(i) * Base1) % Mod
      p2(i + 1) = (p2(i) * Base2) % Mod
      i += 1
    }
    val nSh = t - l + 1
    val out = new Array[Long](nSh)
    var p = 0
    while (p < nSh) {
      val lo = starts(p)
      val hi = ends(p + l - 1)
      val len = hi - lo
      val a = (((h1(hi) - h1(lo) * p1(len)) % Mod) + Mod) % Mod
      val b = (((h2(hi) - h2(lo) * p2(len)) % Mod) + Mod) % Mod
      out(p) = a | (b << 31)
      p += 1
    }
    new GenericArrayData(out)
  }
}
