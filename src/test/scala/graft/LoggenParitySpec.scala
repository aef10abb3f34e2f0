package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Loggen, Tables}
import graft.streaming.{MetricsReader, MetricsStore, StreamingMetrics}
import graft.operators.Metrics

/** SURVEY §5.5 parity smoke — the whole reference system in one test:
  * loggen model → JSON wire → parse (P1, malformed drop) → streaming
  * pipeline fan-out → store merges → the five dashboard endpoint reads
  * (Q1–Q5), each asserted equal to its batch twin over the same
  * events. This is the end-to-end proof that the streaming and batch
  * faces of the engine compute the SAME metric catalog.
  */
class LoggenParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("loggen → wire → parse → stream → store reads ≡ batch twins (Q1–Q5)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._

    // ~25 simulated minutes at 4 ev/s — enough closed minutes for the
    // 10-minute dashboard windows, small enough to stream in seconds
    val msgs = Loggen.wireMessages(n = 6000, eventsPerSec = 4)
    val parsed = Tables.parseJsonEvents(msgs.toDF("value")).cache()
    val events = parsed.collect().map { r =>
      LogEvent(r.getString(0), r.getString(1), r.getString(2),
        java.sql.Timestamp.from(r.getTimestamp(3).toInstant))
    }
    assert(events.length === 6000, "wire format must parse losslessly")

    // --- streaming face: three micro-batches through the pipeline ---
    val input = MemoryStream[LogEvent]
    val store = new MetricsStore
    val queries = StreamingMetrics.startPipeline(input.toDS(), store) :+
      StreamingMetrics.startVariantSketches(input.toDS(), store, "theta_parity")
    try {
      events.grouped(2048).foreach { batch =>
        input.addData(batch.toSeq)
        queries.foreach(_.processAllAvailable())
      }
    } finally queries.foreach(_.stop())

    // --- batch face over the identical events ---
    val ev = parsed.toDF()
    val nowMinute = events.map(_.timestamp.toInstant).max
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .truncatedTo(java.time.temporal.ChronoUnit.MINUTES)

    // store reads come recent-first, keyed by minute; the batch
    // series are oldest-first
    def keyed(series: Seq[(java.time.LocalDateTime, Long)]) =
      series.map { case (m, v) => MetricsReader.MinuteKeyFmt.format(m) -> v }

    // Q1 visits: store read vs zero-filled batch series
    val q1Batch = Metrics.visitsTimeseries(ev)
      .as[(String, Long)].collect().toSeq
    assert(keyed(store.timeseries("visitCounter", nowMinute, 10)(store.counter))
      === q1Batch.reverse)

    // Q2 unique users (exact SADD/SCARD face)
    val q2Batch = Metrics.usersTimeseries(ev)
      .as[(String, Long)].collect().toSeq
    assert(keyed(store.timeseries("set_dthr", nowMinute, 10)(store.scard))
      === q2Batch.reverse)

    // Q3 active experiments
    val q3Batch = Metrics.experimentsTimeseries(ev)
      .as[(String, Long)].collect().toSeq
    assert(keyed(store.timeseries("set_experiments", nowMinute, 10)(store.scard))
      === q3Batch.reverse)

    // Q4 variant overlap — all-time pairwise set intersections
    val q4Batch = Metrics.variantOverlap(ev)
      .as[(String, String, Long)].collect().toSeq
    assert(store.overlap("set_var_") === q4Batch)
    // the generator's 4 variants all appear → C(4,2) pairs
    assert(q4Batch.length === 6)
    // Q4 sketch twin: theta intersections stay exact in the raw-hash
    // regime (generator uids ≪ nominal entries), so the scale path
    // reproduces the exact endpoint on this corpus
    assert(store.overlapApprox("theta_var_") === q4Batch)

    // Q5 times spine: same closed-minute labels from both faces
    val q5Batch = Metrics.timesSpine(ev).as[String].collect().toSeq
    assert(keyed(store.timeseries("visitCounter", nowMinute, 10)(store.counter))
      .map(_._1) === q5Batch.reverse)

    // --- the same replay over a LIVE Redis store: generator → stream →
    // worker-side RESP writes → Redis reads ≡ the same batch twins.
    // This closes the reference topology end-to-end (Spark writes
    // Redis, dashboard reads Redis) with zero driver materialization
    // of members. ---
    val redis = new RespTestServer
    val sink = new graft.store.RedisMetricsSink("127.0.0.1", redis.port)
    val redisInput = MemoryStream[LogEvent]
    val redisQueries = StreamingMetrics.startPipeline(redisInput.toDS(), sink)
    try {
      events.grouped(2048).foreach { batch =>
        redisInput.addData(batch.toSeq)
        redisQueries.foreach(_.processAllAvailable())
      }
      assert(keyed(sink.timeseries("visitCounter", nowMinute, 10)(sink.counter))
        === q1Batch.reverse)
      assert(keyed(sink.timeseries("set_dthr", nowMinute, 10)(sink.scard))
        === q2Batch.reverse)
      assert(keyed(sink.timeseries("set_experiments", nowMinute, 10)(sink.scard))
        === q3Batch.reverse)
      assert(sink.overlap("set_var_") === q4Batch)
      // the PFADD face: estimates equal exact uniques under the test
      // server's exact-count fake — proving the raw members arrived
      q2Batch.foreach { case (minute, uniques) =>
        assert(sink.hllCount(s"hll_dthr_$minute") === uniques)
      }
      // members shipped from partition tasks, not one driver socket
      assert(redis.connectionsAccepted > 2)

      // --- and the DASHBOARD HTTP face over the SAME live store:
      // generator → stream → RESP writes → Redis-served endpoints,
      // including the approx (PFCOUNT) users path, against the batch
      // twins. Clock pinned just after the last closed minute so the
      // endpoint spine equals the batch spine. ---
      val srv = new graft.serving.DashboardServer(sink, port = 0,
        clock = () => nowMinute.plusSeconds(42)).start()
      try {
        val port = srv.boundPort
        def get(path: String): String = {
          val client = java.net.http.HttpClient.newHttpClient()
          client.send(java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://localhost:$port$path")).GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofString()).body()
        }
        // "2026-08-12T10:16:00Z" -> the store's "2026_08_12T10_16" key
        def key(iso: String): String =
          iso.substring(0, 16).replace('-', '_').replace(':', '_')
        def series(body: String): Seq[(String, Long)] =
          """\{"timestamp":"([^"]+)","metric":(-?\d+)\}""".r
            .findAllMatchIn(body)
            .map(m => (key(m.group(1)), m.group(2).toLong)).toSeq
        val visits = series(get("/metrics/timeseries/visits?lastMinutes=10"))
        assert(visits.sortBy(_._1) === q1Batch.sortBy(_._1))
        // approx users endpoint: PFCOUNT per closed minute vs exact
        // batch uniques WITHIN HLL ERROR — the contract a real Redis
        // honors (PFCOUNT std err 0.81%; 3σ ≈ 2.5%). The test server's
        // PFCOUNT is member-exact, so this also passes as equality —
        // the tolerance is the documented field contract, not slack
        // for a broken pipeline.
        val users = series(get("/metrics/timeseries/users?lastMinutes=10"))
        assert(users.map(_._1).sorted === q2Batch.map(_._1).sorted)
        val exactByMin = q2Batch.toMap
        users.foreach { case (m, est) =>
          val ex = exactByMin(m)
          assert(math.abs(est - ex) <=
            math.max(1L, math.ceil(ex * 0.025).toLong),
            s"PFCOUNT estimate $est vs exact $ex at $m outside HLL 3σ")
        }
        val exps = series(get("/metrics/timeseries/experiments?lastMinutes=10"))
        assert(exps.sortBy(_._1) === q3Batch.sortBy(_._1))
        // overlap endpoint: SINTERSTORE/SCARD server-side
        val overlap =
          """\{"dimensions":\["([^"]+)","([^"]+)"\],"metric":(\d+)\}""".r
            .findAllMatchIn(get("/metrics/timeseries/variantsOverlap"))
            .map(m => (m.group(1), m.group(2), m.group(3).toLong)).toSeq
        assert(overlap.sorted === q4Batch.sorted)
      } finally srv.stop()
    } finally {
      redisQueries.foreach(_.stop()); sink.close(); redis.close()
    }

    // the uid-drift model must actually drift: multiple distinct uids
    // per minute AND overlap across minutes (the property the
    // reference's build_user_id exists to create)
    val perMin = events.groupBy(e => e.timestamp.toInstant.getEpochSecond / 60)
      .view.mapValues(_.map(_.uid).toSet).toMap
    assert(perMin.values.forall(_.size > 1))
    val minutes = perMin.keys.toSeq.sorted
    val overlaps = minutes.zip(minutes.tail).map { case (a, b) =>
      (perMin(a) & perMin(b)).size }
    assert(overlaps.count(_ > 0) === overlaps.length,
      "consecutive minutes should share drifting users")
    parsed.unpersist()
    ()
  }
}
