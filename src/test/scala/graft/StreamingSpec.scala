package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Analytics, Metrics, Preference}
import graft.streaming.{MetricsReader, MetricsStore, StreamingMetrics}

/** Streaming semantics per SURVEY.md §5.4: update-mode incremental
  * results after each addData+processAllAvailable, including a late
  * event folding into an already-seen minute (the reference accepts
  * late data forever — no watermark, order-insensitive merges). */
class StreamingSpec extends AnyFunSuite {
  import StreamingSpec._
  private lazy val spark = TestSpark.spark

  private def ev(uid: String, exp: String, variant: String, t: String) =
    LogEvent(uid, exp, variant, java.sql.Timestamp.valueOf(t))

  test("pipeline fan-out: counters and sets update per micro-batch; late events fold into their original minute") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[LogEvent]
    val store = new MetricsStore
    val queries = StreamingMetrics.startPipeline(input.toDS(), store)
    try {
      input.addData(
        ev("u1", "e1", "1", "2026-08-12 10:15:03"),
        ev("u1", "e1", "1", "2026-08-12 10:15:59"),
        ev("u2", "e1", "2", "2026-08-12 10:16:00"))
      queries.foreach(_.processAllAvailable())
      assert(store.counter("visitCounter_2026_08_12T10_15") === 2L)
      assert(store.counter("visitCounter_2026_08_12T10_16") === 1L)
      assert(store.scard("set_dthr_2026_08_12T10_15") === 1L)

      // late event for 10:15 arrives after 10:16 was seen; u1 also
      // crosses into variant "2" (overlap membership)
      input.addData(
        ev("u3", "e2", "2", "2026-08-12 10:15:30"),
        ev("u1", "e1", "2", "2026-08-12 10:16:20"))
      queries.foreach(_.processAllAvailable())
      assert(store.counter("visitCounter_2026_08_12T10_15") === 3L)
      assert(store.scard("set_dthr_2026_08_12T10_15") === 2L)
      assert(store.scard("set_var_1") === 1L)
      assert(store.scard("set_var_2") === 3L)
      assert(store.hllCount("hll_dthr_2026_08_12T10_15") === 2L)

      // Q4 read shape over the store: variant overlap via set intersection
      assert(store.overlap("set_var_") === Seq(("1", "2", 1L)))
      // Q1 read shape: zero-filled closed minutes, recent-first
      val series = store.timeseries("visitCounter",
        java.time.LocalDateTime.of(2026, 8, 12, 10, 17), lastMinutes = 3)(store.counter)
      assert(series.map { case (m, v) => MetricsReader.MinuteKeyFmt.format(m) -> v } === Seq(
        ("2026_08_12T10_16", 2L),
        ("2026_08_12T10_15", 3L),
        ("2026_08_12T10_14", 0L)))
    } finally queries.foreach(_.stop())
  }

  test("pipeline writes only through the KeyValueMetricsSink trait — a foreign sink is a drop-in") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // a stand-in for a real Redis client: records raw verb calls, shares
    // no code with MetricsStore — proves the boundary carries everything
    // the pipeline emits
    class RecordingSink extends graft.streaming.KeyValueMetricsSink {
      val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]
      def incrBy(key: String, n: Long): Unit = { calls.add(("INCRBY", key, n)); () }
      def put(key: String, v: Long): Unit = { calls.add(("SET", key, v)); () }
      def sadd(key: String, members: Iterable[String]): Unit = {
        calls.add(("SADD", key, members.size.toLong)); ()
      }
      override def pfadd(key: String, members: Iterable[String]): Unit = {
        calls.add(("PFADD", key, members.size.toLong)); ()
      }
    }
    val input = MemoryStream[LogEvent]
    val sink = new RecordingSink
    val queries = StreamingMetrics.startPipeline(input.toDS(), sink)
    try {
      input.addData(
        ev("u1", "e1", "1", "2026-08-12 10:15:03"),
        ev("u2", "e1", "2", "2026-08-12 10:15:30"))
      queries.foreach(_.processAllAvailable())
      import scala.jdk.CollectionConverters._
      val byVerb = sink.calls.asScala.toSeq.groupBy(_._1)
      // INCRBY carries the per-batch partial count for the minute
      assert(byVerb("INCRBY") === Seq(("INCRBY", "visitCounter_2026_08_12T10_15", 2L)))
      // every set family reached the sink via SADD
      val saddKeys = byVerb("SADD").map(_._2).toSet
      assert(saddKeys === Set("set_dthr_2026_08_12T10_15",
        "set_var_1", "set_var_2", "set_experiments_2026_08_12T10_15"))
      // the HLL family's members arrive via PFADD; nothing is upserted
      assert(byVerb("PFADD") === Seq(("PFADD", "hll_dthr_2026_08_12T10_15", 2L)))
      assert(!byVerb.contains("SET"))
    } finally queries.foreach(_.stop())
  }

  test("in-memory store: one fan-out query, one ledgered store write per micro-batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // records each ledgered write: the whole batch's INCRBYs, SADDs and
    // PFADDs must arrive in ONE call, keyed by the fused query's name
    class LedgerSink extends MetricsStore {
      val onceCalls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int, Int, Int)]
      override def writeBatchOnce(queryId: String, batchId: Long,
          incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
          sadds: Seq[(String, Iterable[String])],
          pfadds: Seq[(String, Iterable[String])]): Boolean = {
        onceCalls.add((queryId, batchId, incrs.size, sadds.size, pfadds.size))
        super.writeBatchOnce(queryId, batchId, incrs, puts, sadds, pfadds)
      }
    }
    val input = MemoryStream[LogEvent](3)
    val store = new LedgerSink
    val queries = StreamingMetrics.startPipeline(input.toDS(), store)
    try {
      assert(queries.map(_.name) === Seq(StreamingMetrics.FanOutQuery))
      input.addData(
        ev("u1", "e1", "1", "2026-08-12 10:15:03"),
        ev("u2", "e1", "2", "2026-08-12 10:15:30"),
        ev("u1", "e2", "1", "2026-08-12 10:16:01"),
        ev("u3", null, "1", "2026-08-12 10:16:09"))
      queries.foreach(_.processAllAvailable())
      import scala.jdk.CollectionConverters._
      // 2 minutes → 2 INCRBYs; SADD keys: 2 set_dthr + 2 set_var + 2
      // set_experiments; PFADD keys: 2 hll_dthr
      assert(store.onceCalls.asScala.toSeq === Seq((StreamingMetrics.FanOutQuery, 0L, 2, 6, 2)))
      assert(store.counter("visitCounter_2026_08_12T10_16") === 2L)
      // members from different partitions union into one set
      assert(store.sets("set_dthr_2026_08_12T10_16") === Set("u1", "u3"))
      assert(store.sets("set_var_1") === Set("u1", "u3"))
      // a null member has nothing to add: the key holds only real members
      assert(store.sets("set_experiments_2026_08_12T10_16") === Set("e2"))
      assert(store.hllCount("hll_dthr_2026_08_12T10_15") === 2L)
      assert(store.hllCount("hll_dthr_2026_08_12T10_16") === 2L)
    } finally queries.foreach(_.stop())
  }

  test("a checkpoint root in the earlier per-branch layout is refused, not resumed") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_legacy_ck")
    java.nio.file.Files.createDirectories(root.resolve("visits_counter").resolve("offsets"))
    val input = MemoryStream[LogEvent]
    val err = intercept[IllegalArgumentException] {
      StreamingMetrics.startPipeline(input.toDS(), new MetricsStore,
        checkpointRoot = Some(root.toString))
    }
    assert(err.getMessage.contains("visits_counter"))
    assert(spark.streams.active.forall(_.name != StreamingMetrics.FanOutQuery))
  }

  test("writeBatchOnce makes INCRBY effectively-once under batch redelivery") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // fails the next batch body once, as a crash inside the write would
    class FlakyStore extends MetricsStore {
      @volatile var failNext = false
      override def writeBatch(incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
          sadds: Seq[(String, Iterable[String])],
          pfadds: Seq[(String, Iterable[String])]): Unit = {
        if (failNext) { failNext = false; throw new RuntimeException("boom") }
        super.writeBatch(incrs, puts, sadds, pfadds)
      }
    }
    val store = new FlakyStore
    val input = MemoryStream[LogEvent]
    input.addData(ev("u1", "e1", "1", "2026-08-12 10:15:03"),
      ev("u2", "e1", "2", "2026-08-12 10:15:30"))
    val dir = java.nio.file.Files.createTempDirectory("idem_ckpt").toString
    val queries = StreamingMetrics.startPipeline(input.toDS(), store,
      checkpointRoot = Some(dir))
    try {
      queries.foreach(_.processAllAvailable())
      val key = "visitCounter_2026_08_12T10_15"
      val q = StreamingMetrics.FanOutQuery
      assert(store.counter(key) === 2L)
      // simulate at-least-once redelivery of batch 0: the ledger must skip
      val reRan = store.writeBatchOnce(q, 0L, incrs = Seq(key -> 2L))
      assert(!reRan && store.counter(key) === 2L, "redelivered batch double-counted")
      // a FAILED batch releases its marker and retries
      store.failNext = true
      intercept[RuntimeException] {
        store.writeBatchOnce(q, 99L, incrs = Seq(key -> 1L))
      }
      assert(store.counter(key) === 2L)
      assert(store.writeBatchOnce(q, 99L, incrs = Seq(key -> 1L)))
      assert(store.counter(key) === 3L)
    } finally queries.foreach(_.stop())
  }

  test("streamed variant-lift moments equal the one-shot batch aggregate under any slicing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // (event_id, event_type, value, props) — two experiments, three arms
    val rows = (0 until 60).map { i =>
      (i.toLong, Seq("a", "b", "c")(i % 3),
        (i % 7).toDouble + 0.25, s"""{"k":"e${i % 2}"}""")
    }
    val input = MemoryStream[(Long, String, Double, String)]
    val q = startReadout(Analytics.liftArms(
      input.toDS().toDF("event_id", "event_type", "value", "props")),
      "variant_lift_t")(identity)
    try {
      // three uneven micro-batch cuts
      input.addData(rows.take(7))
      q.processAllAvailable()
      input.addData(rows.slice(7, 40))
      q.processAllAvailable()
      input.addData(rows.drop(40))
      q.processAllAvailable()
      val streamed = spark.table("variant_lift_t")
        .as[(String, String, Long, Double, Double)].collect().toSet
      val batch = rows.toDF("event_id", "event_type", "value", "props")
        .selectExpr("get_json_object(props, '$.k') AS experiment_id",
          "event_type AS variant", "value")
        .groupBy("experiment_id", "variant")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.expr(
            "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("s1"),
          org.apache.spark.sql.functions.expr(
            "CAST(sum(CAST(value * value AS DECIMAL(20,4))) AS DOUBLE)")
            .as("s2"))
        .as[(String, String, Long, Double, Double)].collect().toSet
      // decimal moments are algebraic: the streamed state is
      // bit-identical to the one-shot aggregate, any slicing
      assert(streamed === batch)
      assert(streamed.map(t => (t._1, t._2)).size === 6)
    } finally q.stop()
  }

  test("sliding-window visits update all covering windows each micro-batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[LogEvent]
    val q = startReadout(Metrics.slidingWindows(input.toDS().toDF()),
      "sliding_stream_t")(Metrics.slidingFromWindows)
    val events = Seq(ev("u1", "e1", "1", "2026-08-12 10:16:00"),
      ev("u2", "e1", "1", "2026-08-12 10:16:30"))
    try {
      input.addData(events.head)
      q.processAllAvailable()
      val first = spark.table("sliding_stream_t")
        .as[(String, Long)].collect().toSet
      // one event → exactly its 5 covering windows, one visit each
      assert(first === (12 to 16).map(m => (f"2026_08_12T10_$m%02d", 1L)).toSet)
      // a second event in the same minute updates all 5 rows
      input.addData(events(1))
      q.processAllAvailable()
      val streamed = spark.table("sliding_stream_t").as[(String, Long)].collect()
      val updated = streamed.filter(_._2 == 2L).map(_._1).toSet
      assert(updated === (12 to 16).map(m => f"2026_08_12T10_$m%02d").toSet)
      assert(streamed.toSeq ===
        Metrics.visitsSliding(events.toDS().toDF()).as[(String, Long)].collect().toSeq)
    } finally q.stop()
  }

  test("rolling actives stream dedups a user across batches within each window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[LogEvent]
    val q = startReadout(Metrics.activeUnits(input.toDS().toDF()),
      "rolling_stream_t")(Metrics.activesFromUnits)
    val events = Seq(ev("u1", "e1", "1", "2026-08-12 10:16:00"),
      ev("u1", "e1", "1", "2026-08-12 10:16:30"))
    try {
      input.addData(events.head)
      q.processAllAvailable()
      // same user again in a later micro-batch, same minute — the
      // (window, uid) state must not double-count it
      input.addData(events(1))
      q.processAllAvailable()
      val streamed = spark.table("rolling_stream_t").as[(String, Long)].collect()
      val latest = streamed.toMap
      assert(latest.keySet === (12 to 16).map(m => f"2026_08_12T10_$m%02d").toSet)
      assert(latest.values.forall(_ === 1L), latest.toString)
      assert(streamed.toSeq ===
        Metrics.rollingActiveUsers(events.toDS().toDF()).as[(String, Long)].collect().toSeq)
    } finally q.stop()
  }

  test("checkpointed restart resumes from committed offsets — no double-counting") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[LogEvent]
    val store = new MetricsStore
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    def run(): Unit = {
      val qs = StreamingMetrics.startPipeline(input.toDS(), store,
        checkpointRoot = Some(ckpt))
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    input.addData(
      ev("u1", "e1", "1", "2026-08-12 10:15:03"),
      ev("u2", "e1", "1", "2026-08-12 10:15:40"))
    run()
    assert(store.counter("visitCounter_2026_08_12T10_15") === 2L)

    // restart from the SAME checkpoint with one new event: the first
    // batch's offsets are committed, so only the new event is delivered
    // — a replay would leave the counter at 5, not 3
    input.addData(ev("u3", "e1", "1", "2026-08-12 10:15:55"))
    run()
    assert(store.counter("visitCounter_2026_08_12T10_15") === 3L)
  }

  test("a checkpoint root written by Spark's default manager resumes exactly under the engine's") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val engine = spark.conf.get(key)
    assert(engine === classOf[graft.streaming.LocalCheckpointFiles].getName)
    val input = MemoryStream[LogEvent]
    val store = new MetricsStore
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_default")
    val commits = root.resolve(StreamingMetrics.FanOutQuery).resolve("commits")
    def run(): Unit = {
      val qs = StreamingMetrics.startPipeline(input.toDS(), store,
        checkpointRoot = Some(root.toString))
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    input.addData(
      ev("u1", "e1", "1", "2026-08-12 10:15:03"),
      ev("u2", "e1", "1", "2026-08-12 10:15:40"))
    spark.conf.set(key, classOf[org.apache.spark.sql.execution.streaming.checkpointing
      .FileContextBasedCheckpointFileManager].getName)
    try run() finally spark.conf.set(key, engine)
    assert(store.counter("visitCounter_2026_08_12T10_15") === 2L)
    // Hadoop's checksummed local filesystem wrote the first commit
    assert(java.nio.file.Files.exists(commits.resolve(".0.crc")))

    input.addData(ev("u3", "e1", "1", "2026-08-12 10:15:55"))
    run()
    // only the new event is delivered: a replay of batch 0 would read 5
    assert(store.counter("visitCounter_2026_08_12T10_15") === 3L)
    // the engine's manager wrote the second commit, with no checksum file
    assert(java.nio.file.Files.exists(commits.resolve("1")))
    assert(!java.nio.file.Files.exists(commits.resolve(".1.crc")))
  }

  test("file-source E2E: JSON files drive the full pipeline; checkpointed restart skips processed files") {
    import spark.implicits._
    // the source boundary the sandbox can exercise: the reference reads
    // Pub/Sub JSON strings (S1); a file stream delivers the same wire
    // format through the same parse (P1) into the same pipeline
    val srcDir = java.nio.file.Files.createTempDirectory("graft_src")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_fs_ckpt").toString
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft_stage", ".json")
      java.nio.file.Files.write(tmp,
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // atomic move so the source never lists a half-written file
      java.nio.file.Files.move(tmp, srcDir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def wire(uid: String, exp: String, variant: String, iso: String) =
      s"""{"uid":"$uid","experiment_id":"$exp","variant":"$variant","timestamp":"$iso"}"""
    def fileEvents = {
      val raw = spark.readStream.text(srcDir.toString)
      graft.sources.Tables.parseJsonEvents(raw)
        .withColumnRenamed(LogEvent.ExperimentId, "experimentId")
        .as[LogEvent]
    }

    writeFile("batch1.json", Seq(
      wire("u1", "e1", "1", "2026-08-12T10:15:03Z"),
      wire("u2", "e1", "2", "2026-08-12T10:15:30Z"),
      """not json — must be dropped, not crash the stream""",
      wire("u1", "e2", "1", "2026-08-12T10:16:01Z")))

    // full fan-out over the file source (no checkpoint: fresh read)
    val store = new MetricsStore
    val queries = StreamingMetrics.startPipeline(fileEvents, store)
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())
    assert(store.counter("visitCounter_2026_08_12T10_15") === 2L)
    assert(store.counter("visitCounter_2026_08_12T10_16") === 1L)
    assert(store.scard("set_dthr_2026_08_12T10_15") === 2L)
    assert(store.scard("set_experiments_2026_08_12T10_16") === 1L)

    // checkpointed restart across a file boundary: file1's offsets are
    // committed, so the restarted query delivers ONLY file2 — the
    // INCRBY counter proves no re-delivery (a replay would double it)
    val ckptStore = new MetricsStore
    def runCheckpointed(): Unit = {
      val qs = StreamingMetrics.startPipeline(fileEvents, ckptStore,
        checkpointRoot = Some(ckptDir))
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
    runCheckpointed()
    assert(ckptStore.counter("visitCounter_2026_08_12T10_15") === 2L)

    writeFile("batch2.json", Seq(
      wire("u3", "e1", "1", "2026-08-12T10:15:55Z")))
    runCheckpointed()
    assert(ckptStore.counter("visitCounter_2026_08_12T10_15") === 3L)
    assert(ckptStore.counter("visitCounter_2026_08_12T10_16") === 1L)
  }

  test("streamed Welch-t readout ≡ batch variant_lift bit-exact under uneven slicing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      (i.toLong, Seq("a", "b", "c")(i % 3),
        (i % 7).toDouble + 0.25, s"""{"k":"e${i % 2}"}""")
    }
    val input = MemoryStream[(Long, String, Double, String)]
    val q = startReadout(Analytics.liftArms(
      input.toDS().toDF("event_id", "event_type", "value", "props")),
      "variant_lift_t2")(Analytics.liftFromArms)
    implicit val liftEnc: org.apache.spark.sql.Encoder[(String, String,
      Long, Double, String, Double, Double, Option[Double])] =
      org.apache.spark.sql.Encoders.product
    type LiftRow = (String, String, Long, Double, String, Double,
      Double, Option[Double])
    def batchOver(rs: Seq[(Long, String, Double, String)]): Set[LiftRow] =
      graft.operators.Analytics.variantLift(
        rs.toDF("event_id", "event_type", "value", "props"))
        .as[LiftRow].collect().toSet
    try {
      // the readout is end-to-end per micro-batch: after EVERY cut the
      // published view equals the batch face over the events so far
      input.addData(rows.take(11))
      q.processAllAvailable()
      assert(spark.table("variant_lift_t2").as[LiftRow].collect().toSet
        === batchOver(rows.take(11)))
      input.addData(rows.slice(11, 43))
      q.processAllAvailable()
      input.addData(rows.drop(43))
      q.processAllAvailable()
      val streamed = spark.table("variant_lift_t2")
        .as[LiftRow].collect().toSet
      val batch = batchOver(rows)
      // decimal moments are algebraic and the derivation chain is the
      // SAME code (Analytics.liftFromArms): bit-exact, any slicing
      assert(streamed === batch)
      // the t column is populated for non-control arms with n > 1
      assert(streamed.count(_._8.isDefined) >= 2)
    } finally q.stop()
  }

  test("streamed BH-FDR battery ≡ batch fdrExperiments bit-exact under uneven slicing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // values straddling the conversion gate (value > 100) so both the
    // Welch and the chi-square rows carry real signal per arm
    val rows = (0 until 90).map { i =>
      (i.toLong, Seq("a", "b", "c")(i % 3),
        (i % 11).toDouble * 20.0 + 0.25, s"""{"k":"e${i % 2}"}""")
    }
    val input = MemoryStream[(Long, String, Double, String)]
    val q = startReadout(Analytics.batteryArms(
      input.toDS().toDF("event_id", "event_type", "value", "props")),
      "fdr_stream")(Analytics.fdrFromArms(_, 0.05))
    implicit val fdrEnc: org.apache.spark.sql.Encoder[(String, String,
      String, Double, Double, Long, Long, Double, Boolean)] =
      org.apache.spark.sql.Encoders.product
    type FdrRow = (String, String, String, Double, Double, Long, Long,
      Double, Boolean)
    def batchOver(rs: Seq[(Long, String, Double, String)]): Set[FdrRow] =
      graft.operators.Analytics.fdrExperiments(
        rs.toDF("event_id", "event_type", "value", "props"))
        .as[FdrRow].collect().toSet
    try {
      input.addData(rows.take(13))
      q.processAllAvailable()
      // after EVERY cut the published battery equals the batch face
      assert(spark.table("fdr_stream").as[FdrRow].collect().toSet
        === batchOver(rows.take(13)))
      input.addData(rows.slice(13, 14)) // single-row batch
      q.processAllAvailable()
      input.addData(rows.drop(14))
      q.processAllAvailable()
      val streamed = spark.table("fdr_stream").as[FdrRow].collect().toSet
      val batch = batchOver(rows)
      // arm sums are algebraic and the tail is the SAME code
      // (Analytics.fdrFromArms): bit-exact under any slicing
      assert(streamed === batch)
      // both test families present, ranks are a total order
      assert(streamed.map(_._1) === Set("welch_z", "chi2"))
      assert(streamed.map(_._7).toList.sorted ===
        (1L to streamed.size.toLong).toList)
    } finally q.stop()
  }

  test("streamed Mann–Whitney battery ≡ batch mwuExperiments bit-exact under uneven slicing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // repeated values inside and across arms so the tie-correction
    // path carries real weight through every cut
    val rows = (0 until 90).map { i =>
      (i.toLong, Seq("a", "b", "c")(i % 3),
        (i % 7).toDouble * 10.0 + 0.5, s"""{"k":"e${i % 2}"}""")
    }
    val input = MemoryStream[(Long, String, Double, String)]
    val q = startReadout(Analytics.rankGrain(
      input.toDS().toDF("event_id", "event_type", "value", "props")),
      "mwu_stream")(Analytics.mwuFromGrain(_, 0.05))
    implicit val mwuEnc: org.apache.spark.sql.Encoder[(String, String,
      String, Double, Double, Long, Long, Double, Boolean)] =
      org.apache.spark.sql.Encoders.product
    type MwuRow = (String, String, String, Double, Double, Long, Long,
      Double, Boolean)
    def batchOver(rs: Seq[(Long, String, Double, String)]): Set[MwuRow] =
      graft.operators.Analytics.mwuExperiments(
        rs.toDF("event_id", "event_type", "value", "props"))
        .as[MwuRow].collect().toSet
    try {
      input.addData(rows.take(13))
      q.processAllAvailable()
      // after EVERY cut the published battery equals the batch face
      assert(spark.table("mwu_stream").as[MwuRow].collect().toSet
        === batchOver(rows.take(13)))
      input.addData(rows.slice(13, 14)) // single-row batch
      q.processAllAvailable()
      input.addData(rows.drop(14))
      q.processAllAvailable()
      val streamed = spark.table("mwu_stream").as[MwuRow].collect().toSet
      val batch = batchOver(rows)
      // the tie-group counts are algebraic and the tail is the SAME
      // code (Analytics.mwuFromGrain): bit-exact under any slicing
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.forall(_._1 == "mwu_u"))
      assert(streamed.map(_._7).toList.sorted ===
        (1L to streamed.size.toLong).toList)
    } finally q.stop()
  }

  test("streamed Kruskal–Wallis ≡ batch kruskalExperiments bit-exact under uneven slicing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // 3 arms × 2 experiments with heavy ties so the tie-corrected H′
    // and the WH tail carry real weight through every cut
    val rows = (0 until 90).map { i =>
      (i.toLong, Seq("a", "b", "c")(i % 3),
        (i % 7).toDouble * 10.0 + 0.5, s"""{"k":"e${i % 2}"}""")
    }
    val input = MemoryStream[(Long, String, Double, String)]
    val q = startReadout(Analytics.rankGrain(
      input.toDS().toDF("event_id", "event_type", "value", "props")),
      "kruskal_stream")(Analytics.kruskalFromGrain)
    implicit val kwEnc: org.apache.spark.sql.Encoder[(String, Long,
      Long, Double, Long, Double)] =
      org.apache.spark.sql.Encoders.product
    type KwRow = (String, Long, Long, Double, Long, Double)
    def batchOver(rs: Seq[(Long, String, Double, String)]): Set[KwRow] =
      graft.operators.Analytics.kruskalExperiments(
        rs.toDF("event_id", "event_type", "value", "props"))
        .as[KwRow].collect().toSet
    try {
      input.addData(rows.take(13))
      q.processAllAvailable()
      // after EVERY cut the published readout equals the batch face
      assert(spark.table("kruskal_stream").as[KwRow].collect().toSet
        === batchOver(rows.take(13)))
      input.addData(rows.slice(13, 14)) // single-row batch
      q.processAllAvailable()
      input.addData(rows.drop(14))
      q.processAllAvailable()
      val streamed =
        spark.table("kruskal_stream").as[KwRow].collect().toSet
      // the tie-group counts are algebraic and the tail is the SAME
      // code (Analytics.kruskalFromGrain): bit-exact under any slicing
      assert(streamed === batchOver(rows))
      assert(streamed.map(_._1) === Set("e0", "e1"))
      assert(streamed.forall(r => r._2 === 3L && r._5 === 2L))
    } finally q.stop()
  }

  test("streamed CUPED ≡ batch cupedLift bit-exact under uneven slicing at the same declared splits") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // 12 users × pre/post periods, per-user baseline confound in both
    // arms so θ and the adjusted means are non-trivial at every cut
    val rows = (0 until 96).map { i =>
      val u = i % 12
      val pre = i < 48
      val arm = if (pre || u % 2 == 0) "a" else "b"
      (i.toLong, u.toLong, arm,
        (u + 1).toDouble * 10.0 + (if (pre) 0.0 else 5.0 + (i % 3)),
        s"""{"k":"e${u % 2}"}""",
        i.toLong * 1000000L)
    }
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    def toDf(rs: Seq[(Long, Long, String, Double, String, Long)]) =
      withTs(rs.toDF("event_id", "user_id", "event_type", "value",
        "props", "us"))
    // the declared split: the batch face's own derived midpoints fed
    // back in, so batch cupedLift over ALL rows is the final oracle
    val splits = graft.operators.Analytics.cupedBase(toDf(rows))
      .groupBy(col("experiment_id"))
      .agg(expr("min(us) + (max(us) - min(us)) div 2").as("mid"))
    val input = MemoryStream[(Long, Long, String, Double, String, Long)]
    val q = startReadout(Analytics.cupedUnits(
      Analytics.cupedBase(withTs(input.toDS().toDF(
        "event_id", "user_id", "event_type", "value", "props", "us"))), splits),
      "cuped_stream")(Analytics.cupedFromG1)
    implicit val cuEnc: org.apache.spark.sql.Encoder[(String, String,
      Long, Double, Double, Double, Double)] =
      org.apache.spark.sql.Encoders.product
    type CuRow = (String, String, Long, Double, Double, Double, Double)
    // mid-cut oracle: the IDENTICAL batch tail over the partial rows
    // at the SAME declared splits
    def batchAt(rs: Seq[(Long, Long, String, Double, String, Long)])
        : Set[CuRow] =
      Analytics.cupedFromG1(Analytics.cupedUnits(Analytics.cupedBase(toDf(rs)), splits))
        .as[CuRow].collect().toSet
    try {
      input.addData(rows.take(53))
      q.processAllAvailable()
      assert(spark.table("cuped_stream").as[CuRow].collect().toSet
        === batchAt(rows.take(53)))
      input.addData(rows.slice(53, 54)) // single-row batch
      q.processAllAvailable()
      input.addData(rows.drop(54))
      q.processAllAvailable()
      val streamed =
        spark.table("cuped_stream").as[CuRow].collect().toSet
      // at the final cut the declared splits coincide with the batch
      // face's derived midpoints: full batch cupedLift is the oracle
      assert(streamed === batchAt(rows))
      assert(streamed === graft.operators.Analytics.cupedLift(
        toDf(rows)).as[CuRow].collect().toSet)
      assert(streamed.map(r => (r._1, r._2)).size === streamed.size)
      assert(streamed.exists(_._7 > 0.0)) // real variance reduction
    } finally q.stop()
  }

  test("streamed winrate bootstrap CI ≡ batch winrateBootstrapCi bit-exact") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // 8 judges × 3 items × 2 experiments; (i % 11) values make the
    // per-(judge, item) decimal sums differ across items (verified:
    // 6 pair rows, 4 comparisons each, winners varying 1–3 of 4) so
    // the point estimates, B_eff and the order-statistic picks all
    // carry weight; B = 48 keeps the resample fast while honoring
    // the >= 40 order-statistic floor
    val rows = (0 until 120).map { i =>
      (s"u${i % 8}", Seq("a", "b", "c")(i % 3),
        (i % 11).toDouble + 0.25, s"""{"k":"e${i % 2}"}""")
    }
    def toDf(rs: Seq[(String, String, Double, String)]) =
      rs.toDF("user_id", "event_type", "value", "props")
    // Row-seq compare (ci bounds are nullable doubles — a tuple
    // encoder would NPE on the NULL-CI surfacing path if it fired)
    def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val input = MemoryStream[(String, String, Double, String)]
    val q = startReadout(Preference.winrateUt(
      input.toDS().toDF("user_id", "event_type", "value", "props")),
      "winrate_stream")(ut =>
        Preference.winrateFromComps(Preference.winrateComps(ut), 48))
    def batchAt(rs: Seq[(String, String, Double, String)]) = rowSet(
      graft.operators.Preference.winrateBootstrapCi(
        toDf(rs), replicates = 48))
    try {
      input.addData(rows.take(17))
      q.processAllAvailable()
      // after EVERY cut the published readout equals the batch face:
      // the decimal judge grain is exact-associative and the tail is
      // the SAME code (Preference.winrateFromComps)
      assert(rowSet(spark.table("winrate_stream")) === batchAt(rows.take(17)))
      input.addData(rows.slice(17, 18)) // single-row batch
      q.processAllAvailable()
      input.addData(rows.drop(18))
      q.processAllAvailable()
      val streamed = rowSet(spark.table("winrate_stream"))
      assert(streamed === batchAt(rows))
      // 3 pairs × 2 experiments, CIs populated, win rates in [0,1]
      assert(streamed.size === 6)
      assert(streamed.forall(r => r(6) != null && r(7) != null))
    } finally q.stop()
  }

  test("streamed pass@k ≡ batch passAtK bit-exact under uneven slicing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // 5 tasks × 9 samples with varying pass rates (value > 100)
    val rows = (0 until 45).map { i =>
      (i.toLong, (i % 5).toLong, if (i % 7 < (i % 5)) 200.0 else 1.0)
    }
    val input = MemoryStream[(Long, Long, Double)]
    val q = startReadout(Preference.passAtKTasks(
      input.toDS().toDF("event_id", "user_id", "value")),
      "pass_at_k_s")(Preference.passAtKFromTasks(_))
    try {
      input.addData(rows.take(13))
      q.processAllAvailable()
      input.addData(rows.slice(13, 14))
      q.processAllAvailable()
      input.addData(rows.drop(14))
      q.processAllAvailable()
      val streamed = spark.table("pass_at_k_s")
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = graft.operators.Preference.passAtK(
        rows.toDF("event_id", "user_id", "value"))
        .as[(Long, Long, Long, Double)].collect().toSet
      // counts are algebraic and the estimator chain is the SAME code
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streamed SPRT verdict ≡ batch sprt_conversion final row under uneven slicing") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val rows = (0 until 90).map { i =>
      (i.toLong, f"2026-01-01 00:0${i / 60}:${i % 60}%02d",
        if (i % 4 == 0) 200.0 else 1.0)
    }
    def toEv(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("event_id", "CAST(s AS TIMESTAMP) AS ts", "value")
    def batchOver(rs: Seq[(Long, String, Double)]) =
      Analytics.sprtConversion(toEv(rs.toDF("event_id", "s", "value")))
    implicit val trajEnc: org.apache.spark.sql.Encoder[(String, Long, Long,
      Long, Long, Double, String)] = org.apache.spark.sql.Encoders.product
    type Traj = (String, Long, Long, Long, Long, Double, String)
    val input = MemoryStream[(Long, String, Double)]
    val q = startReadout(Analytics.sprtMinutes(
      toEv(input.toDS().toDF("event_id", "s", "value"))),
      "sprt_s")(Analytics.sprtFromMinutes(_))
    try {
      input.addData(rows.take(17))
      q.processAllAvailable()
      // after EVERY cut the published trajectory equals the batch face
      assert(spark.table("sprt_s").as[Traj].collect().toSeq ===
        batchOver(rows.take(17)).as[Traj].collect().toSeq)
      input.addData(rows.drop(17))
      q.processAllAvailable()
      val traj = spark.table("sprt_s").as[Traj].collect().toSeq
      // running counts are algebraic; llr/decision are the SAME chains
      assert(traj === batchOver(rows).as[Traj].collect().toSeq)
      assert(traj.length === 2) // one row per minute
      val batchLast = batchOver(rows)
        .orderBy(org.apache.spark.sql.functions.col("minute_key").desc)
        .limit(1)
        .selectExpr("n_cum", "conv_cum", "llr", "decision")
        .as[(Long, Long, Double, String)].collect()(0)
      val st = traj.last
      assert((st._4, st._5, st._6, st._7) === batchLast)
    } finally q.stop()
  }

  test("keyed streaming SPRT: per-arm verdicts ≡ the batch chain; state = |arms|") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // arm (e1, a): 1/2 convert (drifts to h1); (e1, b): never converts
    // (h0 needs ~52 samples: 52·ln(0.85/0.9) < ln(0.05/0.95)); (e2, a):
    // ~1/8 conversion sits between p0 = 0.10 and p1 = 0.15, so its LLR
    // drifts near zero — 'continue'
    val rows = (0 until 240).map { i =>
      val (e, v) = if (i % 4 == 3) ("e2", "a")
        else ("e1", if (i % 2 == 0) "a" else "b")
      val value =
        if ((e == "e1" && v == "a" && i % 4 == 0) ||
          (e == "e2" && i % 32 == 3)) 200.0
        else 1.0
      (i.toLong, v, value, s"""{"k":"$e"}""")
    }
    val input = MemoryStream[(Long, String, Double, String)]
    val q = startReadout(Analytics.conversionArms(
      input.toDS().toDF("event_id", "event_type", "value", "props")),
      "sprt_keyed")(sprtFromArms(_))
    try {
      input.addData(rows.take(77))
      q.processAllAvailable()
      input.addData(rows.drop(77))
      q.processAllAvailable()
      implicit val kEnc: org.apache.spark.sql.Encoder[(String, String,
        Long, Long, Double, String)] =
        org.apache.spark.sql.Encoders.product
      type KRow = (String, String, Long, Long, Double, String)
      val streamed = spark.table("sprt_keyed").as[KRow].collect().toSet
      // batch comparator: per-arm counts through the SAME chains
      val batch = rows.toDF("event_id", "event_type", "value", "props")
        .selectExpr("get_json_object(props, '$.k') AS experiment_id",
          "event_type AS variant", "value")
        .groupBy("experiment_id", "variant")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_cum"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.when(
              org.apache.spark.sql.functions.col("value") > 100.0, 1L)
              .otherwise(0L)).as("conv_cum"))
        .selectExpr("experiment_id", "variant", "n_cum", "conv_cum",
          graft.operators.Analytics.sprtLlrExpr(0.10, 0.15) + " AS llr")
        .selectExpr("experiment_id", "variant", "n_cum", "conv_cum",
          "llr",
          graft.operators.Analytics.sprtDecisionExpr(0.05, 0.05)
            + " AS decision")
        .as[KRow].collect().toSet
      assert(streamed === batch)
      // per-arm independence: the three arms reach distinct verdicts
      val verdicts = streamed.map(r => (r._1, r._2) -> r._6).toMap
      assert(verdicts(("e1", "a")) === "accept_h1")
      assert(verdicts(("e1", "b")) === "accept_h0")
      // the arm aggregate's state holds exactly one row per arm
      val stateRows = q.lastProgress.stateOperators
        .filter(_.operatorName == "stateStoreSave")
        .map(_.numRowsTotal).sum
      assert(stateRows === 3L, s"state rows $stateRows")
    } finally q.stop()
  }

  test("streamed pinned-weights scores ≡ batch quality_score_pinned") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
    val batch = graft.operators.Classifier.qualityScorePinned(docs)
      .as[(Long, Long, Long, Double, Long, Long)].collect()
    assert(batch.nonEmpty)
    val rows = docs.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Classifier.qualityScorePinnedStream(
        input.toDS().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("pinned_score_t").start()
    try {
      rows.grouped((rows.length + 2) / 3)
        .foreach { c => input.addData(c: _*); q.processAllAvailable() }
      val streamed = spark.table("pinned_score_t")
        .as[(Long, Long, Long, Double, Long, Long)].collect().sortBy(_._1)
      // every score byte-identical to the oracled batch face, over any
      // micro-batch slicing
      assert(streamed.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("soak: O(100) micro-batches through the checkpointed fan-out query " +
    "with an abrupt mid-run kill/restart — store ≡ batch twin") {
    import spark.implicits._
    // file source, not MemoryStream: a real source (files, Kafka,
    // Pub/Sub) has per-consumer progress, which is exactly what the
    // query's checkpoint records and the restart resumes from
    val srcDir = java.nio.file.Files.createTempDirectory("graft_soak_src")
    val root = java.nio.file.Files.createTempDirectory("graft_soak_ck").toString
    val store = new MetricsStore
    def wire(i: Int): String = {
      val uid = s"u${i % 37}"; val exp = s"e${i % 5}"; val v = s"${i % 3}"
      val iso = f"2026-08-12T10:${15 + i / 20}%02d:${i % 60}%02dZ"
      s"""{"uid":"$uid","experiment_id":"$exp","variant":"$v","timestamp":"$iso"}"""
    }
    def writeSlice(b: Int): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft_soak_stage", ".json")
      java.nio.file.Files.write(tmp,
        (0 until 5).map(i => wire(b * 5 + i)).mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, srcDir.resolve(f"slice$b%03d.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def fileEvents = {
      // maxFilesPerTrigger=1 pins one file per micro-batch, so 50
      // slices drive ~50 micro-batches
      val raw = spark.readStream.option("maxFilesPerTrigger", 1)
        .text(srcDir.toString)
      graft.sources.Tables.parseJsonEvents(raw)
        .withColumnRenamed(LogEvent.ExperimentId, "experimentId")
        .as[LogEvent]
    }
    def start() = StreamingMetrics.startPipeline(fileEvents, store,
      checkpointRoot = Some(root))
    val nSlices = 50
    var queries = start()
    // bounded state, measured: the stateful operators of every
    // micro-batch of the run — the pipeline must have none, so its
    // state cannot grow with the stream
    val stateOps = scala.collection.mutable.ArrayBuffer[Int]()
    def snapState(): Unit = queries.foreach(_.recentProgress.foreach { p =>
      stateOps += p.stateOperators.length
    })
    try {
      (0 until 20).foreach { b =>
        writeSlice(b); queries.foreach(_.processAllAvailable())
      }
      snapState()
      // abrupt kill: slices 20-24 land but are NOT drained before
      // stop — whatever batch was in flight is redelivered on restart,
      // and the ledger (INCRBY) / idempotence (SADD, PFADD) must
      // absorb it without double-counting
      (20 until 25).foreach(writeSlice)
      queries.foreach(_.stop())
      queries = start()
      (25 until nSlices).foreach { b =>
        writeSlice(b); queries.foreach(_.processAllAvailable())
      }
      queries.foreach(_.processAllAvailable())
      snapState()
    } finally queries.foreach(q => if (q.isActive) q.stop())
    // batch twin over the same 250 events
    case class E(uid: String, exp: String, variant: String, minute: String)
    val all = (0 until nSlices * 5).map(i =>
      E(s"u${i % 37}", s"e${i % 5}", s"${i % 3}",
        f"2026_08_12T10_${15 + i / 20}%02d"))
    all.groupBy(_.minute).foreach { case (mk, evs) =>
      assert(store.counter(s"visitCounter_$mk") === evs.size.toLong,
        s"visits at $mk")
      assert(store.scard(s"set_dthr_$mk") ===
        evs.map(_.uid).distinct.size.toLong, s"unique users at $mk")
      assert(store.scard(s"set_experiments_$mk") ===
        evs.map(_.exp).distinct.size.toLong, s"experiments at $mk")
      // PFADD members fold idempotently across the kill; the in-memory
      // fake counts exactly
      assert(store.hllCount(s"hll_dthr_$mk") ===
        evs.map(_.uid).distinct.size.toLong, s"HLL count at $mk")
    }
    all.groupBy(_.variant).foreach { case (v, evs) =>
      assert(store.scard(s"set_var_$v") ===
        evs.map(_.uid).distinct.size.toLong, s"variant $v uniques")
    }
    assert(stateOps.nonEmpty && stateOps.forall(_ == 0),
      s"stateful operators per micro-batch: ${stateOps.distinct}")
  }
}

object StreamingSpec {

  /** The streaming face of an algebraic batch metric: `grain` is the
    * batch operator's own grain aggregate over a stream, which Spark
    * keeps in complete mode, and every micro-batch applies the batch
    * `readout` to it and publishes the collected result as the temp
    * view `view`. The grain is algebraic (counts, exact decimal sums),
    * so after any micro-batch slicing the view equals the batch face
    * `readout(grain(events so far))`. The query is named `view`. */
  def startReadout(grain: DataFrame, view: String)(
      readout: DataFrame => DataFrame): StreamingQuery = {
    // foreachBatch hands its frame a per-batch cloned session whose temp
    // catalog the caller never sees: the view goes on the stream's own
    val session = grain.sparkSession
    grain.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a readout may read the grain more than once; the cache is
        // released per batch so a long-running stream never piles them up
        val g = batch.persist()
        try {
          // materialized before it is published: a lazy view over the
          // batch frame would dangle once its state snapshot is released
          val out = readout(g)
          val rows = out.collect()
          session.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
            .createOrReplaceTempView(view)
        } finally g.unpersist()
      }
      .queryName(view).start()
  }

  /** One Wald monitor per (experiment, variant) arm over
    * `Analytics.conversionArms`: each arm's totals through the same LLR
    * and decision chains as `Analytics.sprtConversion`. Output:
    * (experiment_id, variant, n_cum, conv_cum, llr, decision). */
  def sprtFromArms(arms: DataFrame): DataFrame =
    arms
      .select(col("experiment_id"), col("variant"), col("n").as("n_cum"),
        col("conv").as("conv_cum"))
      .withColumn("llr", expr(Analytics.sprtLlrExpr(0.10, 0.15)))
      .withColumn("decision", expr(Analytics.sprtDecisionExpr(0.05, 0.05)))
}
