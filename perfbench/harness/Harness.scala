package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.{EngineSession, LogEvent, RespTestServer, SparkEntry}
import graft.serving.DashboardServer
import graft.sources.{Loggen, Tables}
import graft.store.RedisMetricsSink
import graft.streaming.{KeyValueMetricsSink, MetricsReader, StreamingMetrics}

/** The measuring half of the benchmark. It drives the engine only through
  * its public functions, records raw observations (cycles, requests,
  * query timings, counters, spans) and dumps the engine's outputs; the
  * Python half (`perfbench/run.py`) turns them into metrics and checks
  * the outputs against an independent recount or the DuckDB oracle.
  *
  * `Harness <workload> <seed> <seconds> <trace 0|1> <workDir> [catalogDataDir]`
  * writes `<workDir>/raw.json`.
  */
object Harness {
  /** Event time of the live run: history covers the 10 closed minutes
    * before it, so the dashboard has something to show from the start. */
  val HistoryStartSec = 1767225600L // 2026-01-01T00:00:00Z
  val LiveStartSec = HistoryStartSec + 600
  val HistoryRate = 20
  val LiveRate = 2000
  val LiveWarmSec = 10
  /** One micro-batch per second, as in `DashboardMain`. */
  val CycleNs = 1000000000L
  /** 8 dashboards of 5 panels, each refreshed once a second: 40 req/s. */
  val Refreshes = 8.0
  val SetupReps = 3
  val Branches = IndexedSeq("visits_counter", "set_users_minute", "set_users_variant",
    "set_experiments_minute", "hll_users_minute")
  val Endpoints = IndexedSeq("visits", "users", "experiments", "variantsOverlap", "times")
    .map(e => s"/metrics/timeseries/$e" + (if (e == "variantsOverlap") "" else "?lastMinutes=10"))
  /** A round is ~10 s of per-query fixed cost; the first after the cold
    * pass is still ~15% slower, so a median needs three. */
  val CatalogRounds = 3
  val CatalogQueries = IndexedSeq("parse_events_json", "visits_per_minute",
    "unique_users_per_minute", "variant_overlap", "visits_timeseries", "pricing_summary",
    "revenue_by_nation", "order_fill_by_priority", "user_sessions", "dedup_minhash_lsh")

  /** Registered on traced runs only. */
  val engine = new EngineCounters

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    val Array(workload, seedS, secondsS, traceS, workDir) = args.take(5)
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    // Engine cores unless told otherwise. `live`: 3, so that figures
    // compare across boxes and one core stays free for the dashboard, the
    // RESP server and the poller, whose latency would otherwise follow the
    // engine's CPU bursts. `catalog`: 1. Its queries are per-query fixed
    // cost at this scale, so a round took about as long on 1 core as on 3,
    // and a run that needs fewer cores slows less when other processes
    // take the box's CPUs.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      if (workload == "catalog") "1"
      else math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1)).toString)
    val out = Paths.get(workDir)
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = EngineSession.local(cpus)
    val sessionS = secs(t0)
    val rig: Rig = workload match {
      case "live" => new LiveRig(spark, seed, seconds, traced)
      case "catalog" => new CatalogRig(spark, args(5))
      case other => sys.error(s"unknown workload: $other")
    }
    // The repeatable part of set-up (on `live`, input generation, store and
    // dashboard start) runs SetupReps times and the median counts; the
    // session start, the pipeline start with its history load and the
    // warm pass are once-per-JVM costs and are timed once.
    val reps = (1 to SetupReps).map { r =>
      if (r > 1) rig.teardown()
      rig.prepare()
    }
    val loadS = rig.load()
    val warmS = rig.warm()

    val progress = new ProgressLog
    if (traced) spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(progress)
    val before = engine.snapshot()
    val storeBefore = Probes.storeSnapshot()
    Trace.enabled = traced // spans cover the timed phase only
    val timed = rig.run(seconds)
    Trace.enabled = false
    Thread.sleep(300) // let the listener bus drain
    val after = engine.snapshot()
    val storeAfter = Probes.storeSnapshot()
    // the context cleaner frees a query's broadcasts and shuffles only
    // after a GC has collected their handles
    System.gc(); Thread.sleep(300); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val check = rig.check(out)
    rig.teardown()
    spark.stop()

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cpus" -> cpus, "main_entry_ms" -> mainEntryMs,
      "trace_epoch_ns" -> Trace.epochNs,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.toSeq.map(_.toString),
      "setup" -> Map("session_s" -> sessionS, "reps" -> reps, "load_s" -> loadS,
        "warm_s" -> warmS),
      "live_heap_bytes" -> heap,
      "engine" -> after.map { case (k, v) => k -> (v - before(k)) },
      "store" -> storeAfter.map { case (k, v) => k -> (v - storeBefore(k)) },
      "progress" -> progress.all,
      "timed" -> timed,
      "check" -> check,
      "spans" -> Trace.all)
    Files.write(out.resolve("raw.json"), Json.render(raw).getBytes(UTF_8))
  }
}

/** One workload: set-up (repeatable), warm pass, timed phase, output dump. */
trait Rig {
  /** Generates inputs and opens what the workload serves from; returns
    * the phase times of this set-up. */
  def prepare(): Map[String, Double]
  /** Starts the engine side and loads its history; returns seconds. */
  def load(): Double
  /** Warms the timed path; returns the seconds it kept the engine busy. */
  def warm(): Double
  def run(seconds: Int): Map[String, Any]
  def check(out: Path): Map[String, Any]
  def teardown(): Unit
}

/** `live`: open-loop wall-clock events at 2,000/s into the Redis sink over
  * the in-repo RESP server, with a `DashboardServer` reading through the
  * same sink over a 10-minute history and a poller that GETs the five
  * reference endpoints on a fixed schedule. Wire JSON enters a
  * `MemoryStream[String]`, is parsed in-stream by `Tables.parseJsonEvents`
  * and fans out through `StreamingMetrics.startPipeline`. Streaming is
  * driven as `DashboardMain` drives it: add the events that are due, then
  * `processAllAvailable` on every branch. */
class LiveRig(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean) extends Rig {
  import Harness._
  private var queries: Seq[StreamingQuery] = Nil
  private var input: MemoryStream[String] = _
  private var msgs: IndexedSeq[String] = IndexedSeq.empty
  private var hist: Seq[String] = Nil
  private val fed = ArrayBuffer.empty[String] // every message the store received
  private var resp: RespTestServer = _
  private var proxy: RespCountingProxy = _
  private var sink: RedisMetricsSink = _
  private var store: KeyValueMetricsSink with MetricsReader = _
  private var server: DashboardServer = _
  private var poller: Poller = _
  /** Event-time "now" the dashboard sees. */
  @volatile private var dashNow: LocalDateTime = LocalDateTime.ofEpochSecond(LiveStartSec, 0, ZoneOffset.UTC)
  private var added = 0

  def prepare(): Map[String, Double] = {
    val g = System.nanoTime()
    msgs = Loggen.wireMessages(LiveRate * (seconds + 5), seed = seed,
      startEpochSec = LiveStartSec, eventsPerSec = LiveRate).toIndexedSeq
    hist = Loggen.wireMessages(600 * HistoryRate, seed = seed * 7919 + 1,
      startEpochSec = HistoryStartSec, eventsPerSec = HistoryRate)
    val generateS = secs(g)
    val o = System.nanoTime()
    resp = new RespTestServer
    // the counting proxy sits on the wire only when tracing
    val port = if (traced) { proxy = new RespCountingProxy(resp.port); proxy.port } else resp.port
    sink = new RedisMetricsSink("127.0.0.1", port)
    store = if (traced) new TimedStore(sink) else sink
    server = new DashboardServer(store, 0, () => dashNow).start()
    Map("generate_s" -> generateS, "open_s" -> secs(o))
  }

  def load(): Double = {
    val l = System.nanoTime()
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[String]
    val events: Dataset[LogEvent] = Tables.parseJsonEvents(input.toDF())
      .withColumnRenamed(LogEvent.ExperimentId, "experimentId").as[LogEvent]
    queries = StreamingMetrics.startPipeline(events, store)
    fed.clear()
    feed(hist)
    secs(l)
  }

  /** Adds `msgs` and waits until every branch committed them; returns the
    * per-branch await end times. */
  private def feed(msgs: Seq[String], cycle: Trace.Span = null): Seq[Long] = {
    Trace.span("source.add", cycle) { input.addData(msgs) }
    fed ++= msgs
    queries.zip(Branches).map { case (q, b) =>
      Trace.span("streaming.await." + b, cycle) { q.processAllAvailable() }
      System.nanoTime()
    }
  }

  /** Warm-up runs the timed loop itself, poller included, on earlier
    * events: the streaming path keeps speeding up for many cycles after
    * its first batch, and the dashboard path must not be cold either.
    * Only the cycles count as busy; the waits between them are the
    * schedule's. */
  def warm(): Double = {
    val w = Loggen.wireMessages(LiveRate * (LiveWarmSec + 2), seed = seed * 7919 + 2,
      startEpochSec = LiveStartSec - 60, eventsPerSec = LiveRate).toIndexedSeq
    val (_, cycles, _) = drive(w, LiveWarmSec)
    pollerSamples()
    cycles.map(c => c("commit_ns").asInstanceOf[Long] - c("add_ns").asInstanceOf[Long]).sum / 1e9
  }

  def run(seconds: Int): Map[String, Any] = {
    val respBefore = Option(proxy).map(_.snapshot())
    val (t0, cycles, failed) = drive(msgs, seconds)
    Map("t0_ns" -> t0, "end_ns" -> System.nanoTime(), "rate" -> LiveRate,
      "cycles" -> cycles, "failed_cycles" -> failed, "reads" -> pollerSamples(),
      "resp" -> Option(proxy).map(p => p.snapshot().map { case (k, v) => k -> (v - respBefore.get(k)) }))
  }

  private def pollerSamples(): Seq[Map[String, Any]] = {
    poller.join()
    poller.all.map(s => Map("j" -> s.j, "path" -> s.path, "due_ns" -> s.dueNs,
      "send_ns" -> s.sendNs, "done_ns" -> s.doneNs, "status" -> s.status))
  }

  /** The open loop: `msgs(i)` is due at `t0 + i / LiveRate`. A cycle runs
    * at the end of every `CycleNs` (at once if the last one overran), adds
    * what is due and waits for every branch. Returns (t0, cycles, failed). */
  private def drive(msgs: IndexedSeq[String], seconds: Int): (Long, Seq[Map[String, Any]], Int) = {
    val cycles = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    val until = t0 + seconds * 1000000000L
    poller = new Poller(server.boundPort, Endpoints, Refreshes,
      math.min(4, Runtime.getRuntime.availableProcessors))
    poller.start(t0, until)
    val root = Trace.begin("workload", parent = null)
    added = 0
    var failed = 0
    var n = 0
    while (n < seconds * 1000000000L / CycleNs) {
      val tick = t0 + (n + 1) * CycleNs
      var now = System.nanoTime()
      while (now < tick) {
        java.util.concurrent.locks.LockSupport.parkNanos(tick - now)
        now = System.nanoTime()
      }
      val due = math.min(msgs.length, ((now - t0) * LiveRate / 1000000000L).toInt + 1)
      val cycle = Trace.begin("cycle", root, group = n.toLong)
      Trace.current = cycle
      dashNow = LocalDateTime.ofEpochSecond(LiveStartSec + (now - t0) / 1000000000L, 0, ZoneOffset.UTC)
      val addStart = System.nanoTime()
      val ends = try feed(msgs.slice(added, due), cycle)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"cycle $n failed: $e"); failed += 1; Nil }
      val end = System.nanoTime()
      Trace.end(cycle)
      cycles += Map("first" -> added, "last" -> due, "add_ns" -> addStart,
        "commit_ns" -> end, "branch_end_ns" -> ends)
      added = due
      n += 1
    }
    Trace.current = null
    Trace.end(root)
    (t0, cycles.toSeq, failed)
  }

  /** Quiesces the pipeline, then dumps what the store holds, the messages
    * fed, and one GET of each endpoint with the dashboard clock past the
    * last event. */
  def check(out: Path): Map[String, Any] = {
    queries.foreach(_.processAllAvailable())
    val eventsFile = out.resolve("events.jsonl")
    Files.write(eventsFile, fed.mkString("", "\n", "\n").getBytes(UTF_8))
    val lastSec = LiveStartSec + math.max(0, added - 1) / LiveRate
    dashNow = LocalDateTime.ofEpochSecond(lastSec - lastSec % 60 + 60, 0, ZoneOffset.UTC)
    val finals = Endpoints.map { p =>
      val (status, body) = Poller.fetch(server.boundPort, p)
      Map("path" -> p, "status" -> status, "body" -> body)
    }
    val ledger = (k: String) => k.startsWith("graft_batch_ledger:")
    val dump = Map(
      "counters" -> resp.strings.filter(kv => !ledger(kv._1)).map { case (k, v) => k -> v.toLong }.toMap,
      "sets" -> resp.sets.map { case (k, v) => k -> v.toSeq.sorted }.toMap,
      "hll" -> resp.hlls.map { case (k, v) => k -> v.size.toLong }.toMap)
    Map("events_file" -> eventsFile.getFileName.toString, "store" -> dump,
      "endpoints" -> finals, "dashboard_now" -> dashNow.toString)
  }

  def teardown(): Unit = {
    queries.foreach(_.stop())
    queries = Nil
    if (server != null) server.stop()
    if (sink != null) sink.close()
    if (proxy != null) proxy.close()
    if (resp != null) resp.close()
  }
}

/** `catalog`: ten `SparkEntry.queries` round-robin, each run to its full
  * result through the `noop` sink. The tables are
  * generated before the JVM starts; correctness is checked against the
  * DuckDB twins, from results collected in the warm pass. */
class CatalogRig(spark: SparkSession, dataDir: String) extends Rig {
  import Harness._
  private val results = ArrayBuffer.empty[Map[String, Any]]

  def prepare(): Map[String, Double] = Map.empty
  def load(): Double = 0.0

  /** A cold pass over the ten queries that also collects each full result
    * for the oracle comparison. */
  def warm(): Double = {
    val w = System.nanoTime()
    results.clear()
    CatalogQueries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dataDir)
      val rows = df.collect()
      val cols = df.schema.fieldNames.toSeq
      results += Map("query" -> q, "columns" -> cols,
        "rows" -> rows.map(r => cols.indices.map(i => cell(r.get(i)))).toSeq,
        "oracle_sql" -> SparkEntry.oracleSql.get(q))
      spark.catalog.clearCache()
    }
    secs(w)
  }

  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def cell(v: Any): Any = v match {
    case null => null
    case d: Double if d.isNaN => "NaN"
    case d: Double if d.isInfinite => if (d > 0) "Infinity" else "-Infinity"
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString.toDouble
    case t: java.sql.Timestamp => TsFmt.format(t.toLocalDateTime)
    case t: java.time.Instant => TsFmt.format(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => TsFmt.format(t)
    case d: java.sql.Date => d.toString
    case s: scala.collection.Seq[_] => s.map(cell)
    case other => other
  }

  /** Whole rounds, at least `CatalogRounds` and more while the time is not
    * up: every query runs as often as the others, its median rests on
    * three runs or more, and the run always ends on the same query. */
  def run(seconds: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    val until = t0 + seconds * 1000000000L
    val root = Trace.begin("workload", parent = null)
    val execs = ArrayBuffer.empty[Map[String, Any]]
    while (execs.length < CatalogRounds * CatalogQueries.length || System.nanoTime() < until)
      CatalogQueries.foreach(q => execs += query(q, root, execs.length))
    Trace.end(root)
    Map("t0_ns" -> t0, "end_ns" -> System.nanoTime(), "queries" -> execs)
  }

  /** One query built, planned and run to its full result through the
    * `noop` sink. */
  private def query(q: String, root: Trace.Span, n: Int): Map[String, Any] = {
    val span = Trace.begin("catalog.query", root, group = n.toLong)
    Trace.current = span
    val jobs0 = engine.jobs.get
    val a = System.nanoTime()
    var ok = true
    var b, c, d = a
    var buildJobs = 0L
    try {
      val df = Trace.span("catalog.build", span)(SparkEntry.queries(q)(spark, dataDir))
      b = System.nanoTime()
      buildJobs = engine.jobs.get - jobs0
      Trace.span("catalog.plan", span)(df.queryExecution.executedPlan)
      c = System.nanoTime()
      Trace.span("catalog.exec", span)(df.write.format("noop").mode("overwrite").save())
      d = System.nanoTime()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"query $q failed: $e"); ok = false; d = System.nanoTime() }
    Trace.end(span)
    Trace.current = null
    spark.catalog.clearCache() // drop the query's persisted frames, untimed
    Map("query" -> q, "start_ns" -> a, "build_ns" -> (b - a), "plan_ns" -> (c - b),
      "exec_ns" -> (d - c), "ok" -> ok, "build_jobs" -> buildJobs,
      "jobs" -> (engine.jobs.get - jobs0))
  }

  def check(out: Path): Map[String, Any] = Map("results" -> results.toSeq)
  def teardown(): Unit = ()
}
