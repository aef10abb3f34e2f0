package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{NgramStats, Registry}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Unit semantics and codegen proof of the ngram_stats kernel. */
class NgramStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def statsOf(tokens: Seq[String], n: Int): (Long, Long) = {
    val row = NgramStats.compute(
      ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray), n)
    (row.getLong(0), row.getLong(1))
  }

  test("counts total and distinct n-grams exactly") {
    assert(statsOf(Seq("a", "b", "a", "b", "a", "b"), 3) === (4L, 2L))
    assert(statsOf(Seq("w", "x", "y", "z"), 3) === (2L, 2L))
    assert(statsOf(Seq("a", "a", "a"), 1) === (3L, 1L))
    // shorter than n → (0, 0), not an error
    assert(statsOf(Seq("only", "two"), 3) === (0L, 0L))
    assert(statsOf(Nil, 3) === (0L, 0L))
  }

  test("agrees with the higher-order-function formulation on real docs") {
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001).limit(50)
    Registry.ensure(spark)
    val kernel = docs
      .select(col("doc_id"), expr("ngram_stats(split(text, ' '), 3)").as("st"))
      .select(col("doc_id"), col("st.n_ngrams"), col("st.n_distinct_ngrams"))
    val hof = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - 2, lit(0)).cast("long").as("n_ngrams"),
        expr("size(array_distinct(transform(sequence(0, greatest(size(toks) - 3, -1)), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 3)))))").cast("long")
          .as("n_distinct_ngrams"))
    import spark.implicits._
    assert(kernel.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq ===
      hof.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq)
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

  test("generated code path agrees with eval (no silent codegen fallback)") {
    import spark.implicits._
    Registry.ensure(spark)
    val df = Seq((1L, "a b a b a b"), (2L, "p q r s t"))
      .toDF("id", "text")
      .select(col("id"), expr("ngram_stats(split(text, ' '), 3)").as("st"))
      .select(col("id"), col("st.n_ngrams"), col("st.n_distinct_ngrams"))
    val run = () => df.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val interpreted = withSQLConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    val codegen = withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run())
    assert(codegen === interpreted)
    assert(codegen === Seq((1L, 4L, 2L), (2L, 3L, 3L)))
  }

  test("vocabRichness: closed-form Chao1 / Good-Turing / TTR on a hand corpus") {
    import spark.implicits._
    // counts: a:2, b:1, c:1 → N=4, V=3, V1=2, V2=1
    val docs = Seq((1L, "a b a"), (2L, "c")).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.vocabRichness(docs).collect()(0)
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("vocab") === 3L)
    assert(r.getAs[Long]("v1") === 2L)
    assert(r.getAs[Long]("v2") === 1L)
    assert(r.getAs[Double]("chao1") === 3.5) // 3 + 2·1/(2·(1+1))
    assert(r.getAs[Double]("p0_unseen") === 0.5)
    assert(r.getAs[Double]("ttr") === 0.75)
    // V2 = 0 stays defined (bias-corrected form)
    val docs2 = Seq((1L, "x y z")).toDF("doc_id", "text")
    val r2 = graft.operators.TextAnalysis.vocabRichness(docs2).collect()(0)
    assert(r2.getAs[Double]("chao1") === 6.0) // 3 + 3·2/2
  }

  test("distinctNgrams: hand corpus reproduces every (total, distinct, ratio) row") {
    import spark.implicits._
    // "a a b" + "a b": unigrams 5 total {a,b}; bigrams "a a","a b","a b"
    // → 3 total 2 distinct; trigrams only "a a b" → 1/1
    val docs = Seq((1L, "a a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.distinctNgrams(docs)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got === List(
      (1L, 5L, 2L, 0.4), (2L, 3L, 2L, 2.0 / 3.0), (3L, 1L, 1L, 1.0)))
  }

  test("distinctNgrams: docs shorter than n contribute nothing at that n; empty tokens drop") {
    import spark.implicits._
    val docs = Seq((1L, "x"), (2L, " ")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.distinctNgrams(docs)
      .as[(Long, Long, Long, Double)].collect().toList
    // only the unigram row exists: one doc, one token
    assert(got === List((1L, 1L, 1L, 1.0)))
  }
}
