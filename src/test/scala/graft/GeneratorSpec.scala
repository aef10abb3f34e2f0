package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Registry

/** The custom char_ngrams Generator: fan-out semantics, edge rows,
  * code-point handling, and equivalence with the array formulation. */
class GeneratorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def grams(text: String, n: Int): Seq[String] = {
    Registry.ensure(spark)
    Seq(Option(text)).toDF("text")
      .select(expr(s"char_ngrams(text, $n)").as("gram"))
      .as[String].collect().toSeq
  }

  test("emits every overlapping n-gram in order") {
    assert(grams("abcde", 3) == Seq("abc", "bcd", "cde"))
    assert(grams("abcde", 1) == Seq("a", "b", "c", "d", "e"))
    assert(grams("abcde", 5) == Seq("abcde"))
  }

  test("short and null inputs generate zero rows (no null rows)") {
    assert(grams("ab", 3).isEmpty)
    assert(grams("", 1).isEmpty)
    assert(grams(null, 2).isEmpty)
  }

  test("indexes by code point, not byte (multibyte text)") {
    assert(grams("aüb", 2) == Seq("aü", "üb"))
  }

  test("matches the explode(array) formulation on real docs") {
    Registry.ensure(spark)
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
      .limit(50).cache()
    val viaGen = docs
      .select(col("doc_id"), expr("char_ngrams(text, 4)").as("gram"))
      .groupBy("doc_id").count()
    val viaArray = docs
      .where(length(col("text")) >= 4)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))"))
        .as("gram"))
      .groupBy("doc_id").count()
    assert(viaGen.exceptAll(viaArray).isEmpty && viaArray.exceptAll(viaGen).isEmpty)
    docs.unpersist()
  }

  test("rejects non-string input and bad n at analysis time") {
    Registry.ensure(spark)
    intercept[Exception] {
      Seq(1).toDF("x").selectExpr("char_ngrams(x, 2)").collect()
    }
    intercept[Exception] {
      Seq("ab").toDF("x").selectExpr("char_ngrams(x, 0)").collect()
    }
  }
}
