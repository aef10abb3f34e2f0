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
    val p = spark.sparkContext.defaultParallelism
    // a single-partition frame is under-split whenever p >= 2
    val one = spark.range(100).toDF("id").coalesce(1)
    assert(Tables.underSplit(one) === (p >= 2))
    // a frame already spread to all cores must NOT trigger the fan-out
    val wide = spark.range(1000).toDF("id").repartition(p)
    assert(!Tables.underSplit(wide))
    // small boxes: 2 and 3 cores fan a single split out, 1 core never
    // does and never plans the frame to find out
    assert(Tables.underSplit(2, 1) && Tables.underSplit(3, 1))
    assert(!Tables.underSplit(2, 2) && !Tables.underSplit(3, 2))
    assert(!Tables.underSplit(1, sys.error("planned the scan on one core")))
    // wider boxes keep the half-the-cores threshold
    assert(Tables.underSplit(4, 1) && !Tables.underSplit(4, 2))
    assert(Tables.underSplit(32, 15) && !Tables.underSplit(32, 16))
  }

  /** Spark jobs started on this thread while `body` runs, counted by a
    * listener; a sentinel job marks the end, since the listener bus
    * delivers events in order. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"probe-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("graft.probe")))
          .foreach(t => seen.merge(t, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.probe", tag)
      val out = body
      sc.setLocalProperty("graft.probe", tag + "-end")
      spark.range(1).count()
      val until = System.nanoTime() + 30000000000L
      while (!seen.containsKey(tag + "-end") && System.nanoTime() < until)
        Thread.sleep(10)
      assert(seen.containsKey(tag + "-end"), "listener bus did not drain")
      (out, Option(seen.get(tag)).fold(0)(_.intValue))
    } finally {
      sc.setLocalProperty("graft.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  test("Tables.table infers a path's schema once: a second read runs no Spark job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_infer").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(firstJobs >= 1, "the first read infers the schema with a job")
    val (second, secondJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(secondJobs === 0)
    assert(second.schema === first.schema)
    assert(second.collect().toSeq === first.collect().toSeq)
    // the same path rewritten with another schema is inferred again
    Seq((3, 1.5, true)).toDF("x", "y", "z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (rewritten, rewrittenJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(rewrittenJobs >= 1)
    assert(rewritten.schema.fieldNames.toSeq === Seq("x", "y", "z"))
    assert(rewritten.as[(Int, Double, Boolean)].collect().toSeq ===
      Seq((3, 1.5, true)))
  }

  test("Tables.events keeps its microsecond ts on a memoized read") {
    // reference: the raw column read without the memo and turned into
    // epoch microseconds on the driver — nanos as a long (floored), or
    // a naive timestamp read as UTC, whichever this Spark infers
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val want = spark.read.parquet(s"${TestSpark.Sf0001}/events.parquet")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> (r.get(1) match {
        case ns: java.lang.Long => Math.floorDiv(ns.longValue, 1000L)
        case t: java.time.LocalDateTime =>
          val i = t.toInstant(java.time.ZoneOffset.UTC)
          i.getEpochSecond * 1000000L + i.getNano / 1000
      })).toMap
    for (_ <- 1 to 2) {
      val got = Tables.events(spark, TestSpark.Sf0001)
        .select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
    }
  }

  test("Tables.events floors a TIMESTAMP(NANOS) ts to microseconds") {
    // the layout pandas writes for datetime64[ns] (perfbench's catalog
    // tables); the sf* fixtures store TIMESTAMP(MICROS) instead
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val base = 1704067200L * 1000000000L // 2024-01-01T00:00:00
    // sub-microsecond remainders of 0, 1, 999 and 789 ns
    val nanos = Seq(base, base + 1L, base + 999L, base + 1000L, base + 123456789L)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      nanos.zipWithIndex.foreach { case (ns, i) =>
        writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns))
      }
    } finally writer.close()
    val events = Tables.events(spark, dir)
    // the nanos-as-long branch ran: the raw column is a long...
    assert(Tables.table(spark, dir, "events").schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    // ...and comes out a microsecond timestamp, remainders floored
    assert(events.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    val got = events.select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === nanos.zipWithIndex.map { case (ns, i) =>
      i.toLong -> Math.floorDiv(ns, 1000L) }.toMap)
  }
}
