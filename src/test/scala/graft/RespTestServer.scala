package graft

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.concurrent.TrieMap

/** An in-process RESP2 server implementing just the verbs the engine's
  * Redis adapter issues (INCRBY / SET[ NX] / GET / DEL / SADD / SCARD /
  * SMEMBERS / SINTERSTORE / KEYS / PFADD / PFCOUNT / MULTI / EXEC /
  * DISCARD / PING). The parser is written independently of
  * [[graft.store.RespClient]] on purpose: a shared codec would let a
  * symmetric encode/decode bug pass both sides — this way the spec
  * exercises the actual public wire format. Thread-per-connection;
  * state in concurrent maps. Like Redis, it sets TCP_NODELAY on every
  * connection and writes the replies to a pipelined batch together:
  * they are flushed once the input holds no further command.
  *
  * The HLL fake is an exact set per key (PFCOUNT = true cardinality):
  * the engine only relies on PFADD being a mergeable, idempotent
  * member-fold, which the exact fake shares with the real sketch.
  *
  * MULTI queues commands per connection (each replies +QUEUED) and
  * EXEC applies the queue atomically under one lock — and with
  * [[crashOnExec]] set, the connection dies BEFORE applying, modelling
  * a server crash mid-transaction: the queued commands must leave no
  * trace (the all-or-nothing contract the engine's effectively-once
  * ledger builds on). */
final class RespTestServer {
  val strings = TrieMap.empty[String, String]
  val sets = TrieMap.empty[String, Set[String]]
  val hlls = TrieMap.empty[String, Set[String]]
  @volatile var commandsServed = 0
  @volatile var connectionsAccepted = 0
  /** When true, an EXEC drops the connection without applying its
    * queued transaction (crash injection). */
  @volatile var crashOnExec = false

  private val txnLock = new Object

  private val server = new ServerSocket(0)
  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val sock = server.accept()
      sock.setTcpNoDelay(true)
      connectionsAccepted += 1
      val t = new Thread(() => serve(sock))
      t.setDaemon(true); t.start()
    } catch { case _: java.io.IOException => /* closed */ }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = server.close()

  /** Applies one command to the store, returning the encoded reply. */
  private def applyCmd(args: Seq[String]): String = args.head.toUpperCase match {
    case "PING" => "+PONG\r\n"
    case "GET" =>
      strings.get(args(1)) match {
        case Some(v) =>
          val b = v.getBytes(UTF_8)
          s"$$${b.length}\r\n$v\r\n"
        case None => "$-1\r\n"
      }
    case "SET" =>
      val nx = args.drop(3).exists(_.equalsIgnoreCase("NX"))
      if (nx) {
        if (strings.putIfAbsent(args(1), args(2)).isEmpty) "+OK\r\n"
        else "$-1\r\n"
      } else { strings.put(args(1), args(2)); "+OK\r\n" }
    case "DEL" =>
      val removed = args.tail.count(k =>
        strings.remove(k).isDefined || sets.remove(k).isDefined ||
          hlls.remove(k).isDefined)
      s":$removed\r\n"
    case "INCRBY" =>
      // real Redis replies -ERR (nested inside an EXEC array when
      // transactional) instead of aborting; mirror that
      try {
        val v = strings.updateWith(args(1)) { prev =>
          Some((prev.map(_.toLong).getOrElse(0L) + args(2).toLong).toString)
        }.get
        s":$v\r\n"
      } catch {
        case _: NumberFormatException =>
          "-ERR value is not an integer or out of range\r\n"
      }
    case "SADD" =>
      val members = args.drop(2).toSet
      var added = 0
      sets.updateWith(args(1)) { prev =>
        val before = prev.getOrElse(Set.empty)
        added = (members -- before).size
        Some(before ++ members)
      }
      s":$added\r\n"
    case "SCARD" =>
      s":${sets.get(args(1)).map(_.size).getOrElse(0)}\r\n"
    case "SMEMBERS" =>
      val ms = sets.get(args(1)).map(_.toSeq.sorted).getOrElse(Nil)
      ms.map { m =>
        val b = m.getBytes(UTF_8); s"$$${b.length}\r\n$m\r\n"
      }.mkString(s"*${ms.size}\r\n", "", "")
    case "SINTERSTORE" =>
      val srcs = args.drop(2).map(k => sets.getOrElse(k, Set.empty[String]))
      val inter = if (srcs.isEmpty) Set.empty[String] else srcs.reduce(_ & _)
      if (inter.isEmpty) sets.remove(args(1)) else sets.put(args(1), inter)
      s":${inter.size}\r\n"
    case "KEYS" =>
      // prefix-star patterns only — all the adapter issues
      val pat = args(1)
      require(pat.endsWith("*") && !pat.dropRight(1).contains("*"),
        s"test server supports prefix* patterns only, got: $pat")
      val prefix = pat.dropRight(1)
      val ks = (strings.keys ++ sets.keys ++ hlls.keys)
        .filter(_.startsWith(prefix)).toSeq.distinct.sorted
      ks.map { k =>
        val b = k.getBytes(UTF_8); s"$$${b.length}\r\n$k\r\n"
      }.mkString(s"*${ks.size}\r\n", "", "")
    case "PFADD" =>
      val members = args.drop(2).toSet
      var changed = 0
      hlls.updateWith(args(1)) { prev =>
        val before = prev.getOrElse(Set.empty)
        changed = if ((members -- before).nonEmpty) 1 else 0
        Some(before ++ members)
      }
      s":$changed\r\n"
    case "PFCOUNT" =>
      // exact-count fake; multi-key PFCOUNT = cardinality of the union
      val union = args.tail.flatMap(k => hlls.getOrElse(k, Set.empty)).toSet
      s":${union.size}\r\n"
    case other => s"-ERR unknown command '$other'\r\n"
  }

  private def serve(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      if (c < 0) return null
      while (c != '\r') { sb.append(c.toChar); c = in.read() }
      in.read() // \n
      sb.toString
    }
    def reply(s: String): Unit = out.write(s.getBytes(UTF_8))
    // a MULTI in progress on THIS connection, or null
    var txn: scala.collection.mutable.ArrayBuffer[Seq[String]] = null
    try {
      var l = line()
      while (l != null) {
        require(l.startsWith("*"), s"expected array, got: $l")
        val n = l.substring(1).toInt
        val args = (0 until n).map { _ =>
          val hdr = line()
          require(hdr.startsWith("$"), s"expected bulk, got: $hdr")
          val len = hdr.substring(1).toInt
          val buf = in.readNBytes(len)
          in.read(); in.read() // trailing CRLF
          new String(buf, UTF_8)
        }
        commandsServed += 1
        args.head.toUpperCase match {
          case "MULTI" =>
            txn = scala.collection.mutable.ArrayBuffer.empty
            reply("+OK\r\n")
          case "DISCARD" =>
            txn = null; reply("+OK\r\n")
          case "EXEC" =>
            if (txn == null) reply("-ERR EXEC without MULTI\r\n")
            else if (crashOnExec) {
              // simulated server crash before commit: the queued
              // transaction evaporates with the connection
              txn = null
              out.flush()
              sock.close()
              return
            } else {
              val replies = txnLock.synchronized { txn.map(applyCmd) }
              txn = null
              reply(s"*${replies.size}\r\n" + replies.mkString)
            }
          case _ if txn != null =>
            txn += args
            reply("+QUEUED\r\n")
          case _ => reply(applyCmd(args))
        }
        // the batch's replies go out together once its last command is in
        if (in.available() == 0) out.flush()
        l = line()
      }
    } catch {
      case _: java.io.IOException => // connection dropped
    } finally sock.close()
  }
}
