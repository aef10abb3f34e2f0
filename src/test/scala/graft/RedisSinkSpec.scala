package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.store.{RedisMetricsSink, RespClient, RespReply}
import graft.streaming.StreamingMetrics

class RedisSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withServer(f: (RespTestServer, RedisMetricsSink) => Unit): Unit = {
    val srv = new RespTestServer
    val sink = new RedisMetricsSink("127.0.0.1", srv.port)
    try f(srv, sink)
    finally { sink.close(); srv.close() }
  }

  test("RESP client speaks the public wire format (independent server parser)") {
    val srv = new RespTestServer
    val c = new RespClient("127.0.0.1", srv.port)
    try {
      assert(c.command("PING") === RespReply.Simple("PONG"))
      assert(c.command("INCRBY", "k", "5") === RespReply.Num(5L))
      assert(c.command("GET", "k") match {
        case b: RespReply.Bulk => b.asString.contains("5"); case _ => false
      })
      assert(c.command("GET", "missing") === RespReply.Bulk(None))
      assert(c.command("NOSUCH").isInstanceOf[RespReply.Err])
      // pipelining: three commands, one flush, replies in order
      val rs = c.pipeline(Seq(Seq("INCRBY", "p", "1"), Seq("INCRBY", "p", "2"),
        Seq("GET", "p")))
      assert(rs(0) === RespReply.Num(1L) && rs(1) === RespReply.Num(3L))
    } finally { c.close(); srv.close() }
  }

  test("sink verbs map to INCRBY/SET/SADD with Redis merge semantics") {
    withServer { (srv, sink) =>
      sink.incrBy("visits", 2); sink.incrBy("visits", 3)
      assert(sink.counter("visits") === 5L)
      sink.put("hll_users", 7); sink.put("hll_users", 9) // last-write-wins
      assert(sink.counter("hll_users") === 9L)
      assert(sink.counter("never_written") === 0L)
      sink.sadd("s", Seq("a", "b")); sink.sadd("s", Seq("b", "c"))
      assert(sink.scard("s") === 3L)
      sink.sadd("s", Nil) // no-op, no protocol error
      // binary-awkward member (whitespace, would break an inline protocol)
      sink.sadd("s2", Seq("two words", "tab\tsep"))
      assert(srv.sets("s2") === Set("two words", "tab\tsep"))
    }
  }

  test("writeBatch applies a whole micro-batch in one pipelined flush") {
    withServer { (srv, sink) =>
      sink.writeBatch(
        incrs = Seq("c1" -> 4L, "c1" -> 6L, "c2" -> 1L),
        puts = Seq("g1" -> 42L),
        sadds = Seq("s1" -> Seq("x", "y"), "empty" -> Nil))
      assert(sink.counter("c1") === 10L && sink.counter("c2") === 1L)
      assert(sink.counter("g1") === 42L && sink.scard("s1") === 2L)
      assert(!srv.sets.contains("empty"))
    }
  }

  test("PFADD members merge server-side across independent writers") {
    withServer { (srv, sink) =>
      val writer2 = new RedisMetricsSink("127.0.0.1", srv.port)
      try {
        // two sinks (two Spark jobs / executors) feed the same HLL key:
        // PFADD merges on the server — union, not last-writer-wins,
        // which a SET of a locally-computed estimate could never give
        sink.pfadd("hll_k", Seq("a", "b"))
        writer2.pfadd("hll_k", Seq("b", "c"))
        assert(sink.hllCount("hll_k") === 3L)
        assert(srv.hlls("hll_k") === Set("a", "b", "c"))
        sink.pfadd("hll_k", Nil) // no-op, no protocol error
        assert(sink.hllCount("never_added") === 0L)
      } finally writer2.close()
    }
  }

  test("overlap reads via SINTERSTORE/SCARD with scratch-key cleanup") {
    withServer { (srv, sink) =>
      sink.sadd("set_var_1", Seq("u1", "u2"))
      sink.sadd("set_var_2", Seq("u2", "u3"))
      sink.sadd("set_var_3", Seq("u9"))
      assert(sink.overlap("set_var_") ===
        Seq(("1", "2", 1L), ("1", "3", 0L), ("2", "3", 0L)))
      assert(!srv.sets.keys.exists(_.startsWith("graft_overlap_tmp")),
        "scratch intersection keys must be deleted")
    }
  }

  test("writeBatchOnce: crash before EXEC applies nothing; retry applies once; redelivery skips") {
    withServer { (srv, sink) =>
      srv.crashOnExec = true
      intercept[java.io.IOException] {
        sink.writeBatchOnce("q", 7L, incrs = Seq("c" -> 5L),
          sadds = Seq("s" -> Seq("m1")))
      }
      // the transaction died before commit: no counter, no set, no marker
      assert(srv.strings.isEmpty && srv.sets.isEmpty)
      srv.crashOnExec = false
      // the re-delivered batch finds no marker and applies — exactly once
      assert(sink.writeBatchOnce("q", 7L, incrs = Seq("c" -> 5L),
        sadds = Seq("s" -> Seq("m1"))))
      assert(sink.counter("c") === 5L && sink.scard("s") === 1L)
      // a second redelivery finds the marker and skips: no double-INCRBY
      assert(!sink.writeBatchOnce("q", 7L, incrs = Seq("c" -> 5L)))
      assert(sink.counter("c") === 5L)
    }
  }

  test("writeBatchOnce surfaces runtime errors nested inside the EXEC reply") {
    withServer { (srv, sink) =>
      // a non-numeric value makes the INCRBY in the transaction BODY
      // fail at EXEC time while every top-level reply is +OK/+QUEUED —
      // Redis reports it only as a nested -ERR inside the EXEC array
      srv.strings.put("bad", "not-a-number")
      val e = intercept[java.io.IOException] {
        sink.writeBatchOnce("q", 9L, incrs = Seq("bad" -> 1L))
      }
      assert(e.getMessage.contains("transaction body error"))
      // the healthy path on the same connection still works
      assert(sink.writeBatchOnce("q", 10L, incrs = Seq("good" -> 2L)))
      assert(sink.counter("good") === 2L)
    }
  }

  test("sink survives java serialization (foreachBatch closure contract)") {
    withServer { (_, sink) =>
      sink.incrBy("pre", 1)
      val bos = new java.io.ByteArrayOutputStream()
      new java.io.ObjectOutputStream(bos).writeObject(sink)
      val copy = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[RedisMetricsSink]
      try {
        copy.incrBy("pre", 2) // fresh transient connection
        assert(copy.counter("pre") === 3L)
      } finally copy.close()
    }
  }

  test("end-to-end: the streaming pipeline writes to Redis over the wire") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ev(uid: String, exp: String, variant: String, ts: String) =
      LogEvent(uid, exp, variant, java.sql.Timestamp.valueOf(ts))
    withServer { (srv, sink) =>
      val input = MemoryStream[LogEvent]
      val queries = StreamingMetrics.startPipeline(input.toDS(), sink)
      try {
        input.addData(
          ev("u1", "e1", "1", "2026-08-12 10:15:03"),
          ev("u2", "e1", "2", "2026-08-12 10:15:30"),
          ev("u1", "e1", "1", "2026-08-12 10:16:01"))
        queries.foreach(_.processAllAvailable())
        // same assertions as the in-memory store run — Redis is a drop-in
        assert(sink.counter("visitCounter_2026_08_12T10_15") === 2L)
        assert(sink.counter("visitCounter_2026_08_12T10_16") === 1L)
        assert(sink.scard("set_dthr_2026_08_12T10_15") === 2L)
        assert(sink.scard("set_var_1") === 1L)
        assert(sink.scard("set_var_2") === 1L)
        // approx branch against Redis ships raw MEMBERS as PFADD
        // (reference fidelity) — read via PFCOUNT, not GET
        assert(sink.hllCount("hll_dthr_2026_08_12T10_15") === 2L)
        assert(srv.hlls.contains("hll_dthr_2026_08_12T10_15"))
        assert(srv.commandsServed > 0)
      } finally queries.foreach(_.stop())
    }
  }

  test("partition writer streams in chunks over one connection — O(chunk) memory") {
    withServer { (srv, _) =>
      val w = new graft.store.RedisPartitionWriterFactory(
        "127.0.0.1", srv.port, chunkCmds = 2).open()
      (1 to 5).foreach(i => w.sadd(s"ck_$i", Seq(s"m$i", s"m${i}b")))
      w.pfadd("ck_hll", Seq("x", "y"))
      w.close()
      (1 to 5).foreach(i => assert(srv.sets(s"ck_$i") === Set(s"m$i", s"m${i}b")))
      assert(srv.hlls("ck_hll") === Set("x", "y"))
      // 6 commands at chunk=2 → 3 pipelined flushes, ONE connection
      assert(srv.connectionsAccepted === 1)
    }
  }

  test("worker-side writes match the driver-side path and never hop the driver") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ev(uid: String, exp: String, variant: String, ts: String) =
      LogEvent(uid, exp, variant, java.sql.Timestamp.valueOf(ts))
    // a four-partition source: the fan-out pass has no shuffle, so its
    // partition tasks are the source's partitions
    val events = (1 to 400).map { i =>
      ev(s"u${i % 50}", s"e${i % 5}", (i % 4).toString,
        f"2026-08-12 10:${15 + i % 3}%02d:${i % 60}%02d")
    }
    withServer { (srv, sink) =>
      assert(sink.partitionWriter.isDefined)
      val input = MemoryStream[LogEvent](4)
      val queries = StreamingMetrics.startPipeline(input.toDS(), sink)
      try {
        input.addData(events)
        queries.foreach(_.processAllAvailable())
      } finally queries.foreach(_.stop())

      // identical events through the driver-side in-memory path
      val memInput = MemoryStream[LogEvent]
      val mem = new graft.streaming.MetricsStore
      val memQueries = StreamingMetrics.startPipeline(memInput.toDS(), mem)
      try {
        memInput.addData(events)
        memQueries.foreach(_.processAllAvailable())
      } finally memQueries.foreach(_.stop())

      // byte-identical store state: every set family...
      assert(srv.sets.toMap === mem.sets.toMap)
      // ...every visit counter (markers aside — the worker path keeps
      // its INCRBY ledger on the driver)...
      assert(srv.strings.filter(_._1.startsWith("visitCounter"))
        .map { case (k, v) => k -> v.toLong }.toMap ===
        mem.counters.toMap.filter(_._1.startsWith("visitCounter")))
      // ...and the HLL families hold exactly the true member sets
      // (worker path PFADDs raw members; the fake counts them exactly)
      val expectedHll = events
        .groupBy(e => "hll_dthr_" + e.timestamp.toLocalDateTime.format(
          java.time.format.DateTimeFormatter.ofPattern("yyyy_MM_dd'T'HH_mm")))
        .view.mapValues(_.map(_.uid).toSet).toMap
      assert(srv.hlls.toMap === expectedHll)
      // ...which the driver-side path folds in identically
      assert(srv.hlls.toMap === mem.hlls.toMap)
      // no driver hop: the members arrived over SEVERAL partition-task
      // connections, not one driver-pipelined socket
      assert(srv.connectionsAccepted > 2,
        s"expected parallel partition connections, saw ${srv.connectionsAccepted}")
    }
  }

  private def ev(uid: String, exp: String, variant: String, ts: String) =
    LogEvent(uid, exp, variant, java.sql.Timestamp.valueOf(ts))

  test("the fan-out is one streaming query running one shuffle-free job per micro-batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def cycle(c: Int) = (1 to 300).map { i =>
      ev(s"u${i % 40}", s"e${i % 3}", (i % 4).toString,
        f"2026-08-12 10:${15 + c}%02d:${i % 60}%02d")
    }
    withServer { (srv, sink) =>
      val input = MemoryStream[LogEvent](4)
      val queries = StreamingMetrics.startPipeline(input.toDS(), sink)
      val queryId = queries.head.id.toString
      // the engine's own counters, for this query's jobs only
      val stageJob = new ConcurrentHashMap[Int, Int]
      val jobsStarted, jobsEnded, stagesDone = new AtomicInteger
      val shuffleBytes = new AtomicLong
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") == queryId)) {
            jobsStarted.incrementAndGet()
            e.stageIds.foreach(stageJob.put(_, e.jobId))
          }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          if (stageJob.containsKey(e.stageInfo.stageId)) {
            stagesDone.incrementAndGet()
            val m = e.stageInfo.taskMetrics
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
          }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (stageJob.containsValue(e.jobId)) jobsEnded.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(queries.map(_.name) === Seq(StreamingMetrics.FanOutQuery))
        (1 to 2).foreach { c =>
          input.addData(cycle(c))
          queries.head.processAllAvailable()
        }
        // the listener bus is asynchronous: wait until it delivered every
        // started job's end, then a little longer for stragglers
        val deadline = System.nanoTime() + 10000000000L
        while ((jobsEnded.get < 2 || jobsEnded.get < jobsStarted.get) && System.nanoTime() < deadline)
          Thread.sleep(20)
        Thread.sleep(300)
        val batches = queries.head.recentProgress.count(_.numInputRows > 0)
        assert(batches === 2)
        assert(jobsStarted.get === batches, "one Spark job per micro-batch")
        assert(jobsEnded.get === batches)
        assert(stagesDone.get === batches, "one stage per job: nothing shuffles")
        assert(shuffleBytes.get === 0L)
        // and the pass wrote every branch
        (1 to 2).foreach { c =>
          val mk = f"2026_08_12T10_${15 + c}%02d"
          assert(sink.counter(s"visitCounter_$mk") === 300L)
          assert(sink.scard(s"set_dthr_$mk") === 40L)
          assert(sink.scard(s"set_experiments_$mk") === 3L)
          assert(srv.hlls(s"hll_dthr_$mk").size === 40)
        }
        (0 until 4).foreach(v => assert(sink.scard(s"set_var_$v") === 10L))
      } finally {
        queries.foreach(_.stop())
        spark.sparkContext.removeSparkListener(listener)
      }
    }
  }

  test("checkpointed fan-out on Redis: a crash inside and after a batch's write and a " +
    "kill mid-stream leave every counter exact") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_redis_src")
    val root = java.nio.file.Files.createTempDirectory("graft_redis_ck").toString
    def wire(i: Int): String = {
      val iso = f"2026-08-12T10:${15 + i / 40}%02d:${i % 60}%02dZ"
      s"""{"uid":"u${i % 23}","experiment_id":"e${i % 4}","variant":"${i % 3}","timestamp":"$iso"}"""
    }
    val perSlice = 10
    def writeSlice(b: Int): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft_redis_stage", ".json")
      java.nio.file.Files.write(tmp, (0 until perSlice).map(i => wire(b * perSlice + i))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, srcDir.resolve(f"slice$b%03d.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def fileEvents = graft.sources.Tables.parseJsonEvents(
        spark.readStream.option("maxFilesPerTrigger", 1).text(srcDir.toString))
      .withColumnRenamed(LogEvent.ExperimentId, "experimentId").as[LogEvent]
    val srv = new RespTestServer
    val sink = new CrashAfterWriteSink(srv.port)
    def start() = StreamingMetrics.startPipeline(fileEvents, sink, checkpointRoot = Some(root))
    var queries = start()
    /** Drains the source; true if the query died doing so (and was restarted). */
    def drain(): Boolean =
      try { queries.foreach(_.processAllAvailable()); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException =>
        queries.foreach(q => if (q.isActive) q.stop())
        queries = start()
        true
      }
    val nSlices = 16
    try {
      (0 until 4).foreach { b => writeSlice(b); assert(!drain()) }
      // crash AFTER the INCRBY transaction committed, before the batch's
      // commit log: the batch is redelivered and the ledger must skip it
      sink.crashAfter = Set(4L)
      writeSlice(4)
      assert(drain(), "the injected crash after the write did not fire")
      assert(!drain())
      // crash INSIDE the write: the server drops the connection at EXEC,
      // nothing of the transaction applies, and the redelivery must apply it
      srv.crashOnExec = true
      writeSlice(5)
      assert(drain(), "the injected crash at EXEC did not fire")
      srv.crashOnExec = false
      assert(!drain())
      (6 until 9).foreach { b => writeSlice(b); assert(!drain()) }
      // abrupt kill: slices land but are not drained before stop
      (9 until 12).foreach(writeSlice)
      queries.foreach(_.stop())
      queries = start()
      (12 until nSlices).foreach { b => writeSlice(b); assert(!drain()) }
      assert(!drain())
    } finally {
      queries.foreach(q => if (q.isActive) q.stop())
      sink.close(); srv.close()
    }
    assert(sink.crashAfter.isEmpty)
    val all = (0 until nSlices * perSlice).map { i =>
      (f"2026_08_12T10_${15 + i / 40}%02d", s"u${i % 23}", s"e${i % 4}", s"${i % 3}")
    }
    all.groupBy(_._1).foreach { case (mk, evs) =>
      assert(srv.strings.get(s"visitCounter_$mk").map(_.toLong) === Some(evs.size.toLong),
        s"visits at $mk: no double INCRBY, no lost batch")
      assert(srv.sets(s"set_dthr_$mk") === evs.map(_._2).toSet)
      assert(srv.sets(s"set_experiments_$mk") === evs.map(_._3).toSet)
      assert(srv.hlls(s"hll_dthr_$mk") === evs.map(_._2).toSet)
    }
    all.groupBy(_._4).foreach { case (v, evs) =>
      assert(srv.sets(s"set_var_$v") === evs.map(_._2).toSet)
    }
    assert(srv.strings.keys.count(_.startsWith(
      s"graft_batch_ledger:${StreamingMetrics.FanOutQuery}:")) >= nSlices)
  }
}

/** A Redis sink that, once for each batch id in [[crashAfter]], fails
  * right after the batch's ledgered write committed — a driver crash
  * between the store write and the streaming commit log. */
private class CrashAfterWriteSink(port: Int) extends RedisMetricsSink("127.0.0.1", port) {
  @volatile var crashAfter = Set.empty[Long]
  override def writeBatchOnce(queryId: String, batchId: Long,
      incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Boolean = {
    val applied = super.writeBatchOnce(queryId, batchId, incrs, puts, sadds, pfadds)
    if (crashAfter(batchId)) {
      crashAfter -= batchId
      throw new java.io.IOException(s"injected crash after batch $batchId was written")
    }
    applied
  }
}
