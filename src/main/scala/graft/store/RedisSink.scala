package graft.store

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A RESP2 reply (redis serialization protocol, the public wire format
  * every Redis-compatible server speaks). */
sealed trait RespReply
object RespReply {
  final case class Simple(s: String) extends RespReply
  final case class Err(msg: String) extends RespReply
  final case class Num(n: Long) extends RespReply
  /** Bulk string; None is the RESP null bulk ($-1). */
  final case class Bulk(v: Option[Array[Byte]]) extends RespReply {
    def asString: Option[String] = v.map(new String(_, UTF_8))
  }
  final case class Arr(items: Seq[RespReply]) extends RespReply
}

/** Minimal RESP2 client over a raw socket — the wire protocol is
  * public and three reply types cover every command this engine
  * issues, so a driver dependency buys nothing a hundred lines don't.
  *
  * Concurrency: NOT thread-safe — callers serialize access (the sink
  * below synchronizes). Failure: an I/O error closes the socket and
  * propagates; the next call reconnects. No silent auto-retry — a
  * blind resend of a non-idempotent verb (INCRBY) after a mid-flight
  * failure could double-apply; redelivery safety belongs to the batch
  * ledger (see [[RedisMetricsSink.writeBatchOnce]]), not the socket.
  */
final class RespClient(host: String, port: Int, timeoutMs: Int = 5000) {
  private var socket: Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _

  def isOpen: Boolean = socket != null && !socket.isClosed

  private def ensureConnected(): Unit = if (!isOpen) {
    val s = new Socket()
    s.connect(new InetSocketAddress(host, port), timeoutMs)
    s.setSoTimeout(timeoutMs)
    s.setTcpNoDelay(true)
    socket = s
    in = new BufferedInputStream(s.getInputStream)
    out = new BufferedOutputStream(s.getOutputStream)
  }

  def close(): Unit = if (isOpen) {
    try socket.close() catch { case _: IOException => }
    socket = null
  }

  /** One command, one round trip. */
  def command(args: String*): RespReply = pipeline(Seq(args)).head

  /** Pipelining — the production shape for micro-batch writes: encode
    * every command, ONE flush, then read all replies. Amortizes the
    * round trip across a whole foreachBatch key set (1 RTT per batch
    * instead of per key), which is what keeps a remote store off the
    * critical path at high key cardinality. */
  def pipeline(cmds: Seq[Seq[String]]): Seq[RespReply] = {
    require(cmds.nonEmpty, "empty pipeline")
    try {
      ensureConnected()
      cmds.foreach(writeCommand)
      out.flush()
      cmds.map(_ => readReply())
    } catch {
      // ANY failure mid-pipeline (I/O or a malformed reply) leaves unread
      // replies buffered on the socket — a later command would read a
      // stale, mismatched reply. Tear the connection down so the next
      // call reconnects into protocol sync.
      case scala.util.control.NonFatal(e) => close(); throw e
    }
  }

  private def writeCommand(args: Seq[String]): Unit = {
    out.write(s"*${args.length}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      out.write(b)
      out.write('\r'); out.write('\n')
    }
  }

  /** A CRLF-terminated protocol line (never contains CR/LF itself). */
  private def readLine(): String = {
    val sb = new java.lang.StringBuilder(32)
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("connection closed mid-reply")
      sb.append(c.toChar)
      c = in.read()
    }
    if (in.read() != '\n') throw new IOException("protocol error: CR without LF")
    sb.toString
  }

  private def readReply(): RespReply = {
    val line = readLine()
    line.charAt(0) match {
      case '+' => RespReply.Simple(line.substring(1))
      case '-' => RespReply.Err(line.substring(1))
      case ':' => RespReply.Num(line.substring(1).toLong)
      case '$' =>
        val n = line.substring(1).toInt
        if (n < 0) RespReply.Bulk(None)
        else {
          val buf = in.readNBytes(n)
          if (buf.length < n) throw new EOFException("short bulk read")
          if (in.read() != '\r' || in.read() != '\n')
            throw new IOException("protocol error: bulk not CRLF-terminated")
          RespReply.Bulk(Some(buf))
        }
      case '*' =>
        val n = line.substring(1).toInt
        if (n < 0) RespReply.Arr(Nil)
        else RespReply.Arr(Seq.fill(n)(readReply()))
      case c => throw new IOException(s"protocol error: unknown reply type '$c'")
    }
  }
}

/** The Redis-backed [[graft.streaming.KeyValueMetricsSink]] — the
  * adapter that makes [[graft.streaming.StreamingMetrics.startPipeline]]
  * write to an actual Redis(-compatible) server, completing the
  * reference's sink (`RedisIO.write().withMethod(Method.X)`,
  * MetricsCalculationPipeline.java:54-57): INCRBY/SET/SADD are issued
  * verbatim over RESP.
  *
  * Serializable by construction: only (host, port) are captured by the
  * foreachBatch closure; the socket is rebuilt lazily per JVM after
  * deserialization. Methods synchronize on the connection because one
  * sink instance serves concurrent callers: the pipeline's fan-out
  * query writes its per-batch INCRBYs through it while the dashboard
  * reads through it. The members themselves bypass this connection —
  * they ship from the partition tasks ([[partitionWriter]]).
  *
  * Scale: per-verb calls are one round trip each; [[writeBatch]] is the
  * micro-batch verb — the whole batch's key set in ONE pipelined flush.
  */
class RedisMetricsSink(host: String, port: Int)
    extends graft.streaming.KeyValueMetricsSink
    with graft.streaming.MetricsReader {

  @transient private var _client: RespClient = _
  private def client: RespClient = {
    if (_client == null) _client = new RespClient(host, port)
    _client
  }

  private def run(args: String*): RespReply = this.synchronized {
    client.command(args: _*) match {
      case RespReply.Err(m) => throw new IOException(s"redis error: $m")
      case ok => ok
    }
  }

  def incrBy(key: String, n: Long): Unit = { run("INCRBY", key, n.toString); () }
  def put(key: String, v: Long): Unit = { run("SET", key, v.toString); () }
  def sadd(key: String, members: Iterable[String]): Unit =
    if (members.nonEmpty) { run(("SADD" +: key +: members.toSeq): _*); () }
  /** Real PFADD — members reach Redis and the server's HLL sketches
    * merge across concurrent writers (the reference's sink fidelity,
    * MetricsCalculationPipeline.java:73-87), unlike a SET of a
    * Spark-computed estimate which is last-writer-wins. */
  override def pfadd(key: String, members: Iterable[String]): Unit =
    if (members.nonEmpty) { run(("PFADD" +: key +: members.toSeq): _*); () }

  /** Read faces ([[graft.streaming.MetricsReader]]), so the dashboard
    * serves from a live Redis exactly as it serves from the in-memory
    * store. */
  def counter(key: String): Long = run("GET", key) match {
    case b: RespReply.Bulk => b.asString.map(_.toLong).getOrElse(0L)
    case RespReply.Num(n) => n
    case other => throw new IOException(s"unexpected GET reply: $other")
  }
  def scard(key: String): Long = run("SCARD", key) match {
    case RespReply.Num(n) => n
    case other => throw new IOException(s"unexpected SCARD reply: $other")
  }
  def hllCount(key: String): Long = run("PFCOUNT", key) match {
    case RespReply.Num(n) => n
    case other => throw new IOException(s"unexpected PFCOUNT reply: $other")
  }
  /** Key-family discovery for the overlap read. KEYS is O(keyspace) —
    * fine for the dashboard's small families (one key per variant); a
    * giant keyspace would use SCAN cursors instead. */
  private def keysByPrefix(prefix: String): Seq[String] =
    run("KEYS", prefix + "*") match {
      case RespReply.Arr(items) =>
        items.collect { case b: RespReply.Bulk => b.asString }.flatten
      case other => throw new IOException(s"unexpected KEYS reply: $other")
    }
  /** Pairwise set intersection the reference's way: SINTERSTORE into a
    * scratch key, SCARD it, DEL it
    * (TimeseriesMetricsController.java:109-136) — every pair's three
    * commands in ONE pipelined round trip after the KEYS call. */
  def overlap(prefix: String): Seq[(String, String, Long)] = {
    val fams = keysByPrefix(prefix).sorted
    val pairs = for { a <- fams; b <- fams if a < b } yield (a, b)
    if (pairs.isEmpty) Nil
    else {
      val cmds = pairs.flatMap { case (a, b) =>
        val tmp = s"graft_overlap_tmp:$a:$b"
        Seq(Seq("SINTERSTORE", tmp, a, b), Seq("SCARD", tmp), Seq("DEL", tmp))
      }
      val replies = this.synchronized(client.pipeline(cmds))
      replies.collectFirst { case RespReply.Err(m) => throw new IOException(s"redis error: $m") }
      pairs.zip(replies.grouped(3).toSeq).map {
        case ((a, b), Seq(_, RespReply.Num(n), _)) => (a.stripPrefix(prefix), b.stripPrefix(prefix), n)
        case (_, other) => throw new IOException(s"unexpected SCARD reply: ${other(1)}")
      }
    }
  }

  private def batchCmds(incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Seq[Seq[String]] =
    incrs.map { case (k, n) => Seq("INCRBY", k, n.toString) } ++
    puts.map { case (k, v) => Seq("SET", k, v.toString) } ++
    sadds.collect { case (k, ms) if ms.nonEmpty => "SADD" +: k +: ms.toSeq } ++
    pfadds.collect { case (k, ms) if ms.nonEmpty => "PFADD" +: k +: ms.toSeq }

  /** One micro-batch, one flush: every INCRBY/SET/SADD/PFADD of the
    * batch in a single pipeline. Errors in any reply surface after the
    * full read so the connection stays in protocol sync. */
  override def writeBatch(incrs: Seq[(String, Long)],
      puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Unit = this.synchronized {
    val cmds = batchCmds(incrs, puts, sadds, pfadds)
    if (cmds.nonEmpty) {
      val errs = client.pipeline(cmds).collect { case RespReply.Err(m) => m }
      if (errs.nonEmpty)
        throw new IOException(s"redis pipeline errors: ${errs.mkString("; ")}")
    }
  }

  /** The effectively-once batch write against a real store: body AND
    * ledger marker commit in ONE `MULTI…EXEC` transaction on the
    * pipelined connection, so there is no crash window between the
    * two — a crash anywhere before EXEC applies NOTHING
    * (marker unset → the re-delivered batch retries in full), a crash
    * after EXEC applied EVERYTHING (marker set → the redelivery is
    * skipped). No double-INCRBY, no lost batch.
    *
    * The check-then-transact read of the marker is race-free because
    * Structured Streaming serializes foreachBatch per query — there is
    * exactly one writer per (queryId, batchId), retries included; a
    * multi-writer deployment would WATCH the marker instead. */
  override def writeBatchOnce(queryId: String, batchId: Long,
      incrs: Seq[(String, Long)] = Nil,
      puts: Seq[(String, Long)] = Nil,
      sadds: Seq[(String, Iterable[String])] = Nil,
      pfadds: Seq[(String, Iterable[String])] = Nil): Boolean = this.synchronized {
    val marker = s"graft_batch_ledger:$queryId:$batchId"
    run("GET", marker) match {
      case RespReply.Bulk(Some(_)) => false // already applied
      case _ =>
        val body = batchCmds(incrs, puts, sadds, pfadds)
        val cmds = Seq(Seq("MULTI")) ++ body ++
          Seq(Seq("SET", marker, "1"), Seq("EXEC"))
        val replies = client.pipeline(cmds)
        replies.collectFirst { case RespReply.Err(m) =>
          throw new IOException(s"redis transaction error: $m")
        }
        // The EXEC reply is an array of per-command results: a runtime
        // error inside it (wrong-type key, OOM) arrives as a nested Err
        // while every top-level reply is +OK/+QUEUED — without this the
        // ledger marker is already set and the lost write never retries.
        replies.lastOption match {
          case Some(RespReply.Arr(items)) =>
            items.collectFirst { case RespReply.Err(m) =>
              throw new IOException(s"redis transaction body error: $m")
            }
          case _ =>
        }
        true
    }
  }

  /** Worker-side writes: each partition task opens its own RESP
    * connection (only (host, port) ship in the closure), buffers its
    * SADD/PFADD commands, and flushes them as ONE pipelined round trip
    * on close — the reference's executor→Redis shape (`RedisIO.write()`,
    * MetricsCalculationPipeline.java:54-57). The driver never sees a
    * member. */
  override def partitionWriter: Option[graft.streaming.PartitionWriterFactory] =
    Some(new RedisPartitionWriterFactory(host, port))

  def close(): Unit = this.synchronized {
    if (_client != null) { _client.close(); _client = null }
  }
}

/** See [[RedisMetricsSink.partitionWriter]]. One writer per partition
  * task; not shared, not thread-safe, closed by its opener.
  *
  * Memory contract: commands are flushed every `chunkCmds` (one
  * pipelined round trip per chunk over a single connection opened at
  * first flush), so the writer holds O(chunk) — a partition is
  * STREAMED to the store, never fully buffered. The last partial chunk
  * flushes on close. */
final class RedisPartitionWriterFactory(host: String, port: Int,
    chunkCmds: Int = 1024)
    extends graft.streaming.PartitionWriterFactory {
  def open(): graft.streaming.PartitionMetricsWriter =
    new graft.streaming.PartitionMetricsWriter {
      private val cmds = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      private var cl: RespClient = null
      private def flush(): Unit = if (cmds.nonEmpty) {
        if (cl == null) cl = new RespClient(host, port)
        val errs = cl.pipeline(cmds.toSeq).collect { case RespReply.Err(m) => m }
        cmds.clear()
        if (errs.nonEmpty)
          throw new IOException(s"redis pipeline errors: ${errs.mkString("; ")}")
      }
      private def add(cmd: Seq[String]): Unit = {
        cmds += cmd
        if (cmds.length >= chunkCmds) flush()
      }
      def sadd(key: String, members: Iterable[String]): Unit =
        if (members.nonEmpty) add("SADD" +: key +: members.toSeq)
      def pfadd(key: String, members: Iterable[String]): Unit =
        if (members.nonEmpty) add("PFADD" +: key +: members.toSeq)
      def close(): Unit =
        try flush() finally if (cl != null) cl.close()
    }
}
