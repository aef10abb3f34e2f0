package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{MinHashBands, MinHashSig, Registry}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Unit semantics of the minhash_sig / minhash_bands expressions. */
class MinHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sigOf(tokens: Seq[String], k: Int = 4, numPerm: Int = 64): Seq[Long] =
    MinHashSig.compute(
      ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray),
      k, numPerm).toLongArray().toSeq

  test("signature is deterministic, shingle-set based, and length numPerm") {
    val toks = "the quick brown fox jumps over the lazy dog".split(" ").toSeq
    val s1 = sigOf(toks)
    assert(s1.length === 64)
    assert(s1 === sigOf(toks))
    // duplicated shingles don't change the signature (min is idempotent):
    // repeating the full token run re-emits existing shingles plus the
    // bridge shingles, so each original min is still present
    assert(sigOf(toks ++ toks).zip(s1).count { case (a, b) => a == b } >= 32)
  }

  test("near-identical token streams share most signature slots, disjoint share none") {
    val a = (1 to 200).map(i => s"tok$i")
    val b = a.updated(100, "CHANGED") // one token differs
    val c = (1 to 200).map(i => s"other$i")
    val sa = sigOf(a); val sb = sigOf(b); val sc = sigOf(c)
    val shareAb = sa.zip(sb).count { case (x, y) => x == y }
    val shareAc = sa.zip(sc).count { case (x, y) => x == y }
    assert(shareAb >= 55, s"near-dup share=$shareAb") // jaccard ~0.96
    assert(shareAc <= 5, s"disjoint share=$shareAc")
  }

  test("band keys: equal signatures collide on every band, disjoint on none") {
    val a = (1 to 100).map(i => s"w$i")
    val c = (1 to 100).map(i => s"v$i")
    val ba = MinHashBands.compute(
      ArrayData.toArrayData(sigOf(a).toArray), 16).toLongArray().toSeq
    val ba2 = MinHashBands.compute(
      ArrayData.toArrayData(sigOf(a).toArray), 16).toLongArray().toSeq
    val bc = MinHashBands.compute(
      ArrayData.toArrayData(sigOf(c).toArray), 16).toLongArray().toSeq
    assert(ba.length === 16)
    assert(ba === ba2)
    assert(ba.intersect(bc).isEmpty)
  }

  test("band keys reject signatures that don't split into equal bands") {
    // regression: rows = n / bands used to silently truncate — with
    // bands > n every band key degenerated to a content-independent
    // constant (every doc collides with every other)
    val sig = ArrayData.toArrayData(sigOf((1 to 100).map(i => s"w$i")).toArray)
    intercept[IllegalArgumentException](MinHashBands.compute(sig, 65))
    intercept[IllegalArgumentException](MinHashBands.compute(sig, 7))
    assert(MinHashBands.compute(sig, 64).numElements() === 64)
  }

  test("generated code path agrees with eval (no silent codegen fallback)") {
    // CODEGEN_ONLY makes a codegen failure an error instead of a silent
    // interpreted fallback — this is the proof doGenCode compiles
    import spark.implicits._
    Registry.ensure(spark)
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "x y z w q r s t")).toDF("id", "text")
      .select(col("id"),
        expr("minhash_bands(minhash_sig(split(text, ' '), 4, 64), 16)").as("bands"))
    val run = () => df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val interpreted = withSQLConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    val codegen = withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run())
    assert(codegen === interpreted)
    assert(codegen(1L) === codegen(2L))
    assert(codegen(1L) !== codegen(3L))
  }

  private def withSQLConf[T](kv: (String, String)*)(f: => T): T = {
    val conf = spark.sessionState.conf
    val olds = kv.map { case (k, _) => k -> conf.getConfString(k, null) }
    kv.foreach { case (k, v) => conf.setConfString(k, v) }
    try f finally olds.foreach {
      case (k, null) => conf.unsetConf(k)
      case (k, v) => conf.setConfString(k, v)
    }
  }
}
