package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.TextAnalysis

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("orc round-trip preserves rows, schema, and values") {
    val events = Tables.events(spark, TestSpark.Sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    events.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === events.count())
    assert(back.schema === events.schema)
    assert(back.agg(sum("user_id")).head().getLong(0) ===
      events.agg(sum("user_id")).head().getLong(0))
  }

  test("winnowing fingerprints: shared substrings of implanted near-dups overlap heavily") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    // find one implanted near-dup pair via exact jaccard
    val pair = graft.operators.Dedup.ngramJaccardPairs(docs)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].head()
    val fps = TextAnalysis.winnowingFingerprints(docs)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (d, rows) => d -> rows.map(_._2).toSet }
    val (a, b) = pair
    val inter = (fps(a) & fps(b)).size.toDouble
    val union = (fps(a) | fps(b)).size.toDouble
    assert(inter / union > 0.8,
      s"winnowing jaccard ${inter / union} too low for near-dup pair $pair")
    // unrelated docs share few fingerprints
    val others = fps.keys.filter(d => d != a && d != b).take(2).toSeq
    val (x, y) = (others.head, others(1))
    assert((fps(x) & fps(y)).size.toDouble / (fps(x) | fps(y)).size < 0.3)
  }

  test("underSplit: true only when the scan has fewer splits than half the cores") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    // a single-partition frame is under-split whenever p >= 4
    val one = spark.range(100).toDF("id").coalesce(1)
    assert(graft.sources.Tables.underSplit(one) === (1 < p / 2))
    // a frame already spread to all cores must NOT trigger the fan-out
    val wide = spark.range(1000).toDF("id").repartition(p)
    assert(!graft.sources.Tables.underSplit(wide))
  }
}
