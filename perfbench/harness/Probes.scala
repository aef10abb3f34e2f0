package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.streaming.{KeyValueMetricsSink, MetricsReader, PartitionMetricsWriter, PartitionWriterFactory}

/** Minimal JSON rendering of Map / Seq / String / Number / Boolean / null.
  * Non-finite doubles render as null, so a failed reading can never
  * corrupt the document. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => render(n.doubleValue)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** In-memory spans: name, start, end (ns since the harness epoch), parent
  * and a group id shared by one cycle, request or query. Recording is a
  * no-op unless tracing is on; spans are written out at exit. */
object Trace {
  @volatile var enabled = false
  val epochNs: Long = System.nanoTime()
  private val ids = new AtomicLong(0)
  final case class Span(id: Long, name: String, parent: Long, group: Long,
      thread: String, start: Long, var end: Long)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** The span the main loop is inside (cycle, query); store writes from
    * stream threads attach to it. */
  @volatile var current: Span = null

  def now(): Long = System.nanoTime() - epochNs

  def begin(name: String, parent: Span = current, group: Long = -1L): Span =
    if (!enabled) null else {
      val p = if (parent == null) -1L else parent.id
      val g = if (group >= 0) group else if (parent == null) -1L else parent.group
      Span(ids.incrementAndGet(), name, p, g, Thread.currentThread.getName, now(), -1L)
    }
  def end(s: Span): Unit = if (s != null) { s.end = now(); spans.add(s) }
  def span[T](name: String, parent: Span = current)(body: => T): T = {
    val s = begin(name, parent)
    try body finally end(s)
  }
  def all: Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.start).map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "group" -> s.group, "thread" -> s.thread,
      "start_ns" -> s.start, "end_ns" -> s.end))
  }
}

/** Spark listener the harness registers itself: load-independent counters
  * (jobs, stages, tasks, task time, CPU, GC, shuffle, spill, result bytes)
  * and the task-launch wait behind each stage submission. */
class EngineCounters extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, waitMs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, resultBytes = new AtomicLong
  private val submitted = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet()
    e.stageInfo.submissionTime.foreach(t => submitted.put(e.stageInfo.stageId, t))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(submitted.get(e.stageId)).foreach(t =>
      waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t)))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.addAndGet(m.resultSize)
    }
  }
  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ms" -> runMs.get, "executor_cpu_ns" -> cpuNs.get,
    "task_wait_ms" -> waitMs.get, "gc_ms" -> gcMs.get,
    "shuffle_read_bytes" -> shuffleRead.get,
    "shuffle_write_bytes" -> shuffleWrite.get,
    "spill_bytes" -> spill.get, "result_bytes" -> resultBytes.get,
    "process_cpu_ns" -> Probes.processCpuNs())
}

/** Every `StreamingQueryProgress` of every branch, kept in arrival order. */
class ProgressLog extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val state = p.stateOperators.toSeq
    events.add(Map(
      "name" -> p.name, "batch" -> p.batchId, "at_ns" -> Trace.now(),
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
      "state_rows" -> state.map(_.numRowsTotal).sum,
      "state_bytes" -> state.map(_.memoryUsedBytes).sum))
  }
  def all: Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    events.asScala.toSeq
  }
}

object Probes {
  def processCpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Store-layer counters, static so executor-side partition writers
    * (deserialized copies in local mode) feed the same totals. */
  val writeCalls, writeNs, readCalls, readNs, ledgerSkips = new AtomicLong
  def storeSnapshot(): Map[String, Long] = Map(
    "write_calls" -> writeCalls.get, "write_ns" -> writeNs.get,
    "read_calls" -> readCalls.get, "read_ns" -> readNs.get,
    "ledger_skips" -> ledgerSkips.get)

  def timedWrite[T](verb: String)(body: => T): T = {
    val s = Trace.begin("store.write." + verb)
    val t0 = System.nanoTime()
    try body finally {
      writeNs.addAndGet(System.nanoTime() - t0); writeCalls.incrementAndGet(); Trace.end(s)
    }
  }
  def timedRead[T](verb: String)(body: => T): T = {
    val s = Trace.begin("store.read." + verb, parent = null)
    val t0 = System.nanoTime()
    try body finally {
      readNs.addAndGet(System.nanoTime() - t0); readCalls.incrementAndGet(); Trace.end(s)
    }
  }
}

/** Timing decorator around the engine's store faces: every write verb the
  * pipeline issues and every read the dashboard issues pass through it
  * unchanged, counted and timed. */
class TimedStore(inner: KeyValueMetricsSink with MetricsReader)
    extends KeyValueMetricsSink with MetricsReader {
  import Probes.{timedRead, timedWrite}
  def incrBy(key: String, n: Long): Unit = timedWrite("incrBy")(inner.incrBy(key, n))
  def put(key: String, v: Long): Unit = timedWrite("put")(inner.put(key, v))
  def sadd(key: String, m: Iterable[String]): Unit = timedWrite("sadd")(inner.sadd(key, m))
  override def pfadd(key: String, m: Iterable[String]): Unit =
    timedWrite("pfadd")(inner.pfadd(key, m))
  override def writeBatch(incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Unit =
    timedWrite("writeBatch")(inner.writeBatch(incrs, puts, sadds, pfadds))
  override def writeBatchOnce(queryId: String, batchId: Long,
      incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Boolean = {
    val ran = timedWrite("writeBatchOnce")(
      inner.writeBatchOnce(queryId, batchId, incrs, puts, sadds, pfadds))
    if (!ran) Probes.ledgerSkips.incrementAndGet()
    ran
  }
  override def partitionWriter: Option[PartitionWriterFactory] =
    inner.partitionWriter.map(new TimedPartitionWriters(_))

  def counter(key: String): Long = timedRead("counter")(inner.counter(key))
  def scard(key: String): Long = timedRead("scard")(inner.scard(key))
  def hllCount(key: String): Long = timedRead("hllCount")(inner.hllCount(key))
  def overlap(prefix: String): Seq[(String, String, Long)] =
    timedRead("overlap")(inner.overlap(prefix))
  override def overlapApprox(prefix: String): Seq[(String, String, Long)] =
    timedRead("overlapApprox")(inner.overlapApprox(prefix))
}

class TimedPartitionWriters(inner: PartitionWriterFactory) extends PartitionWriterFactory {
  def open(): PartitionMetricsWriter = {
    val w = Probes.timedWrite("partition.open")(inner.open())
    new PartitionMetricsWriter {
      def sadd(key: String, m: Iterable[String]): Unit =
        Probes.timedWrite("partition.sadd")(w.sadd(key, m))
      def pfadd(key: String, m: Iterable[String]): Unit =
        Probes.timedWrite("partition.pfadd")(w.pfadd(key, m))
      def close(): Unit = Probes.timedWrite("partition.close")(w.close())
    }
  }
}

/** TCP proxy in front of the RESP server that counts what crosses the
  * wire: commands (split into read and write verbs), request/reply turns
  * (round trips), bytes, and connections opened. */
final class RespCountingProxy(backendPort: Int) {
  val readCmds, writeCmds, roundTrips, bytes = new AtomicLong
  val connections = new AtomicInteger
  private val server = new ServerSocket(0)
  def port: Int = server.getLocalPort

  def snapshot(): Map[String, Long] = Map(
    "resp_read_commands" -> readCmds.get, "resp_write_commands" -> writeCmds.get,
    "resp_round_trips" -> roundTrips.get, "resp_bytes" -> bytes.get,
    "connections" -> connections.get.toLong)

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true); t.start()
    t
  }

  daemon("resp-proxy-accept") {
    try while (!server.isClosed) {
      val client = server.accept()
      connections.incrementAndGet()
      val backend = new Socket()
      backend.connect(new InetSocketAddress("127.0.0.1", backendPort))
      backend.setTcpNoDelay(true); client.setTcpNoDelay(true)
      val awaiting = new java.util.concurrent.atomic.AtomicBoolean(false)
      val parser = new RespCommandParser(isRead => {
        if (isRead) readCmds.incrementAndGet() else writeCmds.incrementAndGet(); ()
      })
      daemon("resp-proxy-up") {
        pump(client.getInputStream, backend.getOutputStream, client, backend) { (buf, n) =>
          parser.feed(buf, n); awaiting.set(true)
        }
      }
      daemon("resp-proxy-down") {
        pump(backend.getInputStream, client.getOutputStream, client, backend) { (_, _) =>
          if (awaiting.getAndSet(false)) roundTrips.incrementAndGet()
        }
      }
    } catch { case _: IOException => }
  }

  private def pump(in: InputStream, out: OutputStream, a: Socket, b: Socket)(
      seen: (Array[Byte], Int) => Unit): Unit = {
    val buf = new Array[Byte](64 * 1024)
    try {
      var n = in.read(buf)
      while (n >= 0) {
        // mark the request before forwarding it, so the reply cannot race
        // the round-trip flag
        if (n > 0) { bytes.addAndGet(n); seen(buf, n); out.write(buf, 0, n); out.flush() }
        n = in.read(buf)
      }
    } catch { case _: IOException => }
    finally { try a.close() catch { case _: IOException => }; try b.close() catch { case _: IOException => } }
  }

  def close(): Unit = server.close()
}

/** Incremental RESP2 request parser: one pass over the bytes, payloads
  * skipped without copying; classifies each complete command as a
  * dashboard read or a pipeline write from its verb and first key. */
final class RespCommandParser(onCommand: Boolean => Unit) {
  private val line = new java.lang.StringBuilder
  private var argsLeft = 0 // bulk strings still to come in this command
  private var skip = 0L // payload bytes (+ CRLF) still to pass
  private var argIndex = 0
  private val head = ArrayBuffer.empty[String]
  private val arg = new ByteArrayOutputStream()

  def feed(buf: Array[Byte], n: Int): Unit = {
    var i = 0
    while (i < n) {
      if (skip > 0) {
        val k = math.min(skip, (n - i).toLong).toInt
        if (argIndex < 2) arg.write(buf, i, k)
        skip -= k
        i += k
        if (skip == 0) endArg()
      } else {
        val c = buf(i).toChar
        i += 1
        if (c == '\n') {
          val l = line.toString
          line.setLength(0)
          if (l.startsWith("*")) { argsLeft = l.substring(1).toInt; argIndex = 0; head.clear() }
          else if (l.startsWith("$")) { skip = l.substring(1).toLong + 2; arg.reset() }
        } else if (c != '\r') line.append(c)
      }
    }
  }

  private def endArg(): Unit = {
    if (argIndex < 2) {
      val b = arg.toByteArray
      head += new String(b, 0, math.max(0, b.length - 2), UTF_8)
    }
    argIndex += 1
    argsLeft -= 1
    if (argsLeft == 0) onCommand(RespCommandParser.isRead(head.toSeq))
  }
}

object RespCommandParser {
  private val ReadVerbs = Set("GET", "SCARD", "PFCOUNT", "KEYS", "SMEMBERS", "PING")
  def isRead(head: Seq[String]): Boolean = {
    val verb = head.headOption.map(_.toUpperCase).getOrElse("")
    val key = head.lift(1).getOrElse("")
    if (key.startsWith("graft_batch_ledger:")) false
    else if (key.startsWith("graft_overlap_tmp:")) true
    else ReadVerbs(verb)
  }
}

/** Open-loop dashboard poller. Dashboards refresh in turn,
  * `refreshesPerSec` times a second in all: refresh `k` is due at
  * `t0 + k / refreshesPerSec` and GETs every panel back to back on
  * keep-alive connection `k % conns`, as a browser refreshes a page of
  * panels. Request `j` is panel `j % paths.length` of refresh
  * `j / paths.length`; its latency runs from the refresh's due time, so a
  * stalled reply delays the later panels and refreshes on that connection
  * and shows. */
final class Poller(port: Int, paths: IndexedSeq[String], refreshesPerSec: Double, conns: Int) {
  final case class Sample(j: Int, path: Int, dueNs: Long, sendNs: Long, doneNs: Long,
      status: Int)
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
  @volatile private var stopAtNs = Long.MaxValue
  private var workers: Seq[Thread] = Nil

  def start(t0Ns: Long, untilNs: Long): Unit = {
    stopAtNs = untilNs
    workers = (0 until conns).map { c =>
      val t = new Thread(() => run(c, t0Ns), s"poller-$c")
      t.setDaemon(true); t.start(); t
    }
  }
  def join(): Unit = workers.foreach(_.join(30000))
  def all: Seq[Sample] = {
    import scala.jdk.CollectionConverters._
    samples.asScala.toSeq.sortBy(_.j)
  }

  private def run(c: Int, t0Ns: Long): Unit = {
    var sock: Socket = null
    var in: BufferedInputStream = null
    var out: BufferedOutputStream = null
    var k = c
    try while (true) {
      val due = t0Ns + (k / refreshesPerSec * 1e9).toLong
      if (due >= stopAtNs) return
      var wait = due - System.nanoTime()
      while (wait > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos(wait)
        wait = due - System.nanoTime()
      }
      for (path <- paths.indices) {
        val send = System.nanoTime()
        val status = try {
          if (sock == null || sock.isClosed) {
            sock = new Socket("127.0.0.1", port)
            sock.setTcpNoDelay(true)
            sock.setSoTimeout(20000)
            in = new BufferedInputStream(sock.getInputStream)
            out = new BufferedOutputStream(sock.getOutputStream)
          }
          Poller.get(in, out, paths(path))._1
        } catch { case _: IOException =>
          if (sock != null) sock.close()
          -1
        }
        val done = System.nanoTime()
        samples.add(Sample(k * paths.length + path, path, due, send, done, status))
      }
      k += conns
    } finally if (sock != null) sock.close()
  }
}

object Poller {
  /** One HTTP/1.1 keep-alive GET; returns (status, body). */
  def get(in: BufferedInputStream, out: BufferedOutputStream, path: String): (Int, String) = {
    out.write(s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(UTF_8))
    out.flush()
    def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new IOException("connection closed")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }
    val status = line().split(" ")(1).toInt
    var len = 0
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = h.substring(i + 1).trim.toInt
      h = line()
    }
    val body = in.readNBytes(len)
    (status, new String(body, UTF_8))
  }

  /** A single GET on a fresh connection (the end-of-run endpoint check). */
  def fetch(port: Int, path: String): (Int, String) = {
    val s = new Socket("127.0.0.1", port)
    try get(new BufferedInputStream(s.getInputStream),
      new BufferedOutputStream(s.getOutputStream), path)
    finally s.close()
  }
}
