package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.streaming.MetricsReader

/** The dashboard's REST face — the reference's five endpoints
  * (reference: dashboard/.../TimeseriesMetricsController.java:45-142)
  * served over any [[MetricsReader]] — the in-memory
  * [[graft.streaming.MetricsStore]] or a live Redis via
  * [[graft.store.RedisMetricsSink]], which closes the reference
  * topology end-to-end (Spark writes Redis, dashboard reads Redis):
  *
  *  - `GET /metrics/timeseries/visits?lastMinutes=N` — MGET over
  *    visitCounter keys, nil→0 (controller :45-67)
  *  - `GET /metrics/timeseries/users?lastMinutes=N` — PFCOUNT face
  *    over hll_dthr keys (:69-86)
  *  - `GET /metrics/timeseries/experiments?lastMinutes=N` — SCARD face
  *    (:88-107)
  *  - `GET /metrics/timeseries/variantsOverlap` — pairwise
  *    SINTERSTORE/SCARD over the variant sets (:109-136)
  *  - `GET /metrics/timeseries/times?lastMinutes=N` — the closed-minute
  *    spine (:138-152)
  *
  * The three timeseries panels read through
  * [[graft.streaming.MetricsReader.timeseries]]. Times are RECENT-FIRST
  * (now-1 … now-N), matching the controller's
  * `timePatternForLastMinutes`; `lastMinutes` defaults to 10. JSON is
  * rendered by hand — the payloads are flat arrays of
  * `{"timestamp": …, "metric": …}` / `{"dimensions": […], "metric": …}`
  * objects, so no serializer dependency is warranted. Every string that
  * comes from outside the program (a request path, a variant name from
  * the event stream) is written through [[DashboardServer.jsonString]].
  *
  * Built on the JDK's `com.sun.net.httpserver` (zero added
  * dependencies); `clock` is injectable so tests pin "now" — the
  * reference reads wall clock (`DateTime.now`), which is what the
  * default does.
  */
class DashboardServer(store: MetricsReader, port: Int = 0,
    clock: () => LocalDateTime = () => LocalDateTime.now(java.time.ZoneOffset.UTC)) {

  private val IsoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:00'Z'")

  private val server = {
    DashboardServer.enableNoDelay()
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  /** `lastMinutes`, 10 when absent. Each minute costs one store read, so
    * a value that is not an integer in 1..[[DashboardServer.MaxLastMinutes]]
    * is refused with 400 before any read. */
  private def lastMinutesParam(ex: HttpExchange): Int = {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    q.split("&").collectFirst {
      case p if p.startsWith("lastMinutes=") =>
        val v = p.stripPrefix("lastMinutes=")
        v.toIntOption.filter(n => n >= 1 && n <= DashboardServer.MaxLastMinutes)
          .getOrElse(throw new BadRequest(
            s"lastMinutes must be an integer in 1..${DashboardServer.MaxLastMinutes}"))
    }.getOrElse(10)
  }

  /** One timeseries panel: `prefix`'s closed minutes, each read with
    * `read`. */
  private def timeseriesJson(ex: HttpExchange, prefix: String)(
      read: String => Long): String =
    store.timeseries(prefix, clock(), lastMinutesParam(ex))(read).map { case (m, v) =>
      s"""{"timestamp":"${IsoFmt.format(m)}","metric":$v}"""
    }.mkString("[", ",", "]")

  private def respond(ex: HttpExchange, body: String, status: Int = 200,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def error(msg: String): String =
    s"""{"error":${DashboardServer.jsonString(msg)}}"""

  private def notFound(ex: HttpExchange): Unit =
    respond(ex, error(s"no such path: ${ex.getRequestURI.getPath}"), 404)

  /** A context matches every path it is a string prefix of, so a handler
    * answers only its exact path: `/variantsOverlapX` is a 404, not an
    * overlap read. */
  private def route(path: String)(handler: HttpExchange => String): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath != path) notFound(ex)
      else try respond(ex, handler(ex))
      catch {
        case BadRequest(msg) => respond(ex, error(msg), 400)
        case t: Throwable => respond(ex, error(t.getClass.getSimpleName), 500)
      })

  route("/metrics/timeseries/visits") { ex =>
    timeseriesJson(ex, "visitCounter")(store.counter)
  }
  route("/metrics/timeseries/users") { ex =>
    timeseriesJson(ex, "hll_dthr")(store.hllCount)
  }
  route("/metrics/timeseries/experiments") { ex =>
    timeseriesJson(ex, "set_experiments")(store.scard)
  }
  route("/metrics/timeseries/variantsOverlap") { _ =>
    store.overlap("set_var_").map { case (a, b, n) =>
      val dims = Seq(a, b).map(DashboardServer.jsonString).mkString(",")
      s"""{"dimensions":[$dims],"metric":$n}"""
    }.mkString("[", ",", "]")
  }
  route("/metrics/timeseries/times") { ex =>
    MetricsReader.closedMinutes(clock(), lastMinutesParam(ex))
      .map(m => s""""${IsoFmt.format(m)}"""").mkString("[", ",", "]")
  }

  // The browser face (reference: static/index.html + metrics_ui.js):
  // one self-contained page — inline vanilla-JS SVG charts + the 1 Hz
  // auto-update toggle — served from the jar, so the dashboard works
  // with zero egress (the reference pulls Google Charts off a CDN).
  // "/" is also httpserver's fallback context, so unknown paths 404
  // here instead of leaking the page.
  private lazy val indexHtml: String = {
    val in = getClass.getResourceAsStream("/graft/dashboard/index.html")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }
  server.createContext("/", (ex: HttpExchange) =>
    ex.getRequestURI.getPath match {
      case "/" | "/index.html" => respond(ex, indexHtml, 200, "text/html")
      case _ => notFound(ex)
    })

  def start(): DashboardServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
  /** Bound port (useful with port=0 for tests). */
  def boundPort: Int = server.getAddress.getPort
}

object DashboardServer {
  /** Upper bound of `lastMinutes`: one day of minutes. */
  val MaxLastMinutes = 1440

  /** `s` as a JSON string literal: quotes, backslashes and control
    * characters escaped (RFC 8259 §7). */
  private[serving] def jsonString(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Turns on TCP_NODELAY for the JDK HTTP server's connections, unless
    * `sun.net.httpserver.nodelay` is already set. Without it, Nagle's
    * algorithm holds the reply to a request that follows another on a
    * keep-alive connection until the client's delayed ACK (~40 ms), so
    * every panel after the first of a dashboard refresh stalls. The JDK
    * reads the property once, when its first server is created. */
  private def enableNoDelay(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
}

/** A request the server refuses with 400. */
private final case class BadRequest(msg: String) extends Exception(msg)
