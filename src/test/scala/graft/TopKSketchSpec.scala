package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.sources.Tables

/** Space-Saving heavy-hitters sketch properties. */
class TopKSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("with capacity above vocabulary, sketch counts are exact") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val sketch = TextAnalysis.topTokens(docs, k = 10, capacity = 4096)
      .as[(String, Long)].collect()
    val exact = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count()
      .orderBy(desc("count"), col("tok"))
      .limit(10).as[(String, Long)].collect()
    assert(sketch.toSeq === exact.toSeq)
  }

  test("sketch merges correctly across streaming micro-batches") {
    // the mergeable-buffer property that lets the sketch run as an
    // update-mode streaming aggregate: incremental batches must agree
    // with the one-shot batch result in the exact (no-eviction) regime
    implicit val sq = spark.sqlContext
    graft.functions.Registry.ensure(spark)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val q = input.toDS().toDF("tok")
      .agg(expr("topk_sketch(tok, 3, 64)").as("m"))
      .select(explode(col("m")).as(Seq("token", "est_count")))
      .writeStream.outputMode("complete")
      .format("memory").queryName("topk_stream_t").start()
    input.addData("a", "a", "b")
    q.processAllAvailable()
    input.addData("a", "b", "c", "c", "c", "c")
    q.processAllAvailable()
    val got = spark.table("topk_stream_t").as[(String, Long)].collect().toMap
    assert(got === Map("c" -> 4L, "a" -> 3L, "b" -> 2L), got.toString)
    q.stop()
  }

  test("under eviction pressure the heavy hitter survives and is never undercounted") {
    // 500x "hot" among 100 distinct cold tokens, capacity 16
    graft.functions.Registry.ensure(spark)
    val words = (Seq.fill(500)("hot") ++ (1 to 300).map(i => s"cold${i % 100}"))
    val df = spark.createDataset(scala.util.Random.shuffle(words)).toDF("tok")
      .repartition(4)
    val got = df.agg(expr("topk_sketch(tok, 5, 16)").as("m"))
      .select(explode(col("m")).as(Seq("token", "est_count")))
      .as[(String, Long)].collect().toMap
    assert(got.contains("hot"))
    assert(got("hot") >= 500L) // space-saving only ever overestimates
  }
}
