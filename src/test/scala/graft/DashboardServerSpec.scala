package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.serving.DashboardServer
import graft.streaming.MetricsStore

/** The five REST endpoints against a populated store, with a pinned
  * clock — response shape and values mirror the reference controller
  * (nil→0 zero-fill, recent-first times, pairwise overlap). */
class DashboardServerSpec extends AnyFunSuite {

  private def fetch(port: Int, path: String): HttpResponse[String] = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  }
  private def get(port: Int, path: String): String = fetch(port, path).body()

  test("all five endpoints serve the store with reference semantics") {
    val store = new MetricsStore
    // two closed minutes of state; 10:17 is "now" (stays incomplete)
    store.incrBy("visitCounter_2026_08_12T10_15", 3L)
    store.incrBy("visitCounter_2026_08_12T10_16", 2L)
    store.pfadd("hll_dthr_2026_08_12T10_15", Seq("u1", "u2"))
    store.sadd("set_experiments_2026_08_12T10_16", Seq("e1", "e2"))
    store.sadd("set_var_1", Seq("u1", "u2"))
    store.sadd("set_var_2", Seq("u2", "u3"))
    val clock = () => java.time.LocalDateTime.of(2026, 8, 12, 10, 17, 42)
    val srv = new DashboardServer(store, port = 0, clock = clock).start()
    try {
      val port = srv.boundPort
      // visits: recent-first, nil -> 0 for the unseen 10:14
      assert(get(port, "/metrics/timeseries/visits?lastMinutes=3") ===
        """[{"timestamp":"2026-08-12T10:16:00Z","metric":2},""" +
        """{"timestamp":"2026-08-12T10:15:00Z","metric":3},""" +
        """{"timestamp":"2026-08-12T10:14:00Z","metric":0}]""")
      // users: the PFCOUNT upsert face
      assert(get(port, "/metrics/timeseries/users?lastMinutes=2") ===
        """[{"timestamp":"2026-08-12T10:16:00Z","metric":0},""" +
        """{"timestamp":"2026-08-12T10:15:00Z","metric":2}]""")
      // experiments: SCARD face
      assert(get(port, "/metrics/timeseries/experiments?lastMinutes=2") ===
        """[{"timestamp":"2026-08-12T10:16:00Z","metric":2},""" +
        """{"timestamp":"2026-08-12T10:15:00Z","metric":0}]""")
      // variant overlap: one shared user between variants 1 and 2
      assert(get(port, "/metrics/timeseries/variantsOverlap") ===
        """[{"dimensions":["1","2"],"metric":1}]""")
      // times: the spine itself, default lastMinutes=10
      val times = get(port, "/metrics/timeseries/times")
      assert(times.startsWith("""["2026-08-12T10:16:00Z","2026-08-12T10:15:00Z""""))
      assert(times.split(",").length === 10)
      // the five reference endpoints are the whole API: a path that only
      // extends one (each context matches by string prefix) is a 404
      val approx = fetch(port, "/metrics/timeseries/variantsOverlapApprox")
      assert(approx.statusCode === 404, approx.body)
      // malformed query param: a JSON error payload, not a hung socket
      val bad = get(port, "/metrics/timeseries/visits?lastMinutes=abc")
      assert(bad.contains("\"error\""), s"expected error payload, got: $bad")
      // ...refused as the client's error (400), as is a window outside
      // 1..MaxLastMinutes: one request cannot ask for unbounded reads
      for {
        e <- Seq("visits", "users", "experiments", "times")
        v <- Seq("abc", "2.5", "", "0", "-3", "1441", "99999999999")
      } {
        val r = fetch(port, s"/metrics/timeseries/$e?lastMinutes=$v")
        assert(r.statusCode === 400, s"$e?lastMinutes=$v -> ${r.statusCode} ${r.body}")
        assert(r.body.contains("\"error\""), r.body)
      }
      assert(DashboardServer.MaxLastMinutes === 1440)
      val widest = fetch(port, "/metrics/timeseries/times?lastMinutes=1440")
      assert(widest.statusCode === 200)
      assert(widest.body.split(",").length === 1440)
      assert(fetch(port, "/metrics/timeseries/visits?lastMinutes=1").statusCode === 200)
      // replies go out without Nagle's delay (TCP_NODELAY on the server)
      assert(System.getProperty("sun.net.httpserver.nodelay") === "true")
      // the browser face: self-contained page wired to every endpoint
      val page = get(port, "/")
      assert(page.startsWith("<!DOCTYPE html>"))
      Seq("/metrics/timeseries/visits", "/metrics/timeseries/users",
        "/metrics/timeseries/experiments", "/metrics/timeseries/variantsOverlap")
        .foreach(e => assert(page.contains(e), s"page does not poll $e"))
      assert(!page.contains("variantsOverlapApprox"), "page polls a removed endpoint")
      // self-contained: no external script/style fetch
      assert(!page.contains("src=\"http"), "page must not pull external scripts")
      assert(get(port, "/index.html") === page)
      // the "/" fallback context must 404 unknown paths, not serve the page
      assert(get(port, "/no/such/path").contains("\"error\""))
    } finally srv.stop()
  }

  test("the same endpoints serve from a live Redis store — the full reference topology") {
    val redis = new RespTestServer
    val sink = new graft.store.RedisMetricsSink("127.0.0.1", redis.port)
    // populate through the SINK verbs — exactly what the streaming
    // pipeline writes (INCRBY / PFADD members / SADD), then read the
    // same five endpoint shapes back through Redis commands
    sink.incrBy("visitCounter_2026_08_12T10_15", 3L)
    sink.incrBy("visitCounter_2026_08_12T10_16", 2L)
    sink.pfadd("hll_dthr_2026_08_12T10_15", Seq("u1", "u2"))
    sink.sadd("set_experiments_2026_08_12T10_16", Seq("e1", "e2"))
    sink.sadd("set_var_1", Seq("u1", "u2"))
    sink.sadd("set_var_2", Seq("u2", "u3"))
    val clock = () => java.time.LocalDateTime.of(2026, 8, 12, 10, 17, 42)
    val srv = new DashboardServer(sink, port = 0, clock = clock).start()
    try {
      val port = srv.boundPort
      assert(get(port, "/metrics/timeseries/visits?lastMinutes=3") ===
        """[{"timestamp":"2026-08-12T10:16:00Z","metric":2},""" +
        """{"timestamp":"2026-08-12T10:15:00Z","metric":3},""" +
        """{"timestamp":"2026-08-12T10:14:00Z","metric":0}]""")
      // users: PFCOUNT over the PFADDed members
      assert(get(port, "/metrics/timeseries/users?lastMinutes=2") ===
        """[{"timestamp":"2026-08-12T10:16:00Z","metric":0},""" +
        """{"timestamp":"2026-08-12T10:15:00Z","metric":2}]""")
      assert(get(port, "/metrics/timeseries/experiments?lastMinutes=2") ===
        """[{"timestamp":"2026-08-12T10:16:00Z","metric":2},""" +
        """{"timestamp":"2026-08-12T10:15:00Z","metric":0}]""")
      // overlap: SINTERSTORE/SCARD server-side, like the reference
      assert(get(port, "/metrics/timeseries/variantsOverlap") ===
        """[{"dimensions":["1","2"],"metric":1}]""")
      val times = get(port, "/metrics/timeseries/times")
      assert(times.startsWith("""["2026-08-12T10:16:00Z","2026-08-12T10:15:00Z""""))
      // no sixth endpoint on this store either
      assert(fetch(port, "/metrics/timeseries/variantsOverlapApprox").statusCode === 404)
    } finally { srv.stop(); sink.close(); redis.close() }
  }
}
