package graft.serving

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.LogEvent
import graft.sources.{Loggen, Tables}
import graft.streaming.{MetricsStore, StreamingMetrics}

/** The whole reference system, runnable:
  * `sbt "runMain graft.serving.DashboardMain [durationSec] [port] [redisHost:redisPort]"`.
  *
  * loggen replica → JSON wire → parse (P1) → streaming pipeline →
  * metrics store → HTTP dashboard — the same topology as
  * `loggen → Pub/Sub → Dataflow → Redis ← Spring dashboard`
  * (reference README architecture), in one process with zero external
  * services. Events are generated against the wall clock in 1-second
  * micro-batches; while it runs, the five endpoints are live, e.g.
  * `curl localhost:<port>/metrics/timeseries/visits?lastMinutes=3`.
  *
  * The pipeline is one streaming query on either store. With a third
  * `host:port` argument the in-memory store is swapped for a live
  * Redis(-compatible) server: the pipeline writes it worker-side over
  * RESP and the dashboard reads it back — the reference deployment,
  * verbatim (the variantsOverlapApprox panel then serves empty: theta
  * sketches are engine-held state). In-memory, the driver merges the
  * writes, and a second query keeps the theta sketches that panel
  * serves.
  */
object DashboardMain {
  def main(args: Array[String]): Unit = {
    val durationSec = args.headOption.map(_.toInt).getOrElse(60)
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val redis = args.lift(2).map { hp =>
      val Array(h, p) = hp.split(":", 2)
      new graft.store.RedisMetricsSink(h, p.toInt)
    }
    val eventsPerSec = 200

    val spark = graft.EngineSession.withEngineConf(SparkSession.builder()
      .master("local[4]")
      .appName("graft-dashboard")
      .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // wire JSON enters the stream as-is and is parsed in-stream by the
    // same P1 path the batch queries use — no driver-side collect
    val input = MemoryStream[String]
    val events = Tables.parseJsonEvents(input.toDF())
      .withColumnRenamed(LogEvent.ExperimentId, "experimentId").as[LogEvent]
    val memStore = new MetricsStore
    val sink: graft.streaming.KeyValueMetricsSink = redis.getOrElse(memStore)
    val reader: graft.streaming.MetricsReader = redis.getOrElse(memStore)
    // the reference fan-out + (in-memory mode) the theta-sketch overlap
    // twin, so the page's variantsOverlapApprox panel is live
    val queries = StreamingMetrics.startPipeline(events, sink) ++
      (if (redis.isEmpty)
        Seq(StreamingMetrics.startVariantSketches(events, memStore,
          "theta_variants"))
      else Nil)
    val server = new DashboardServer(reader, port).start()
    println(s"dashboard listening on http://localhost:${server.boundPort}" +
      "/metrics/timeseries/{visits,users,experiments,variantsOverlap,times}")

    val t0 = System.currentTimeMillis()
    var batch = 0
    try {
      while (System.currentTimeMillis() - t0 < durationSec * 1000L) {
        // batch 0 backfills the last 3 minutes (the dashboard reads
        // CLOSED minutes only — without history a short demo shows
        // zero-filled spines until the first minute closes); later
        // batches are one wall-clock second of live traffic, all
        // parsed through the SAME P1 path the batch queries use
        val (n, startSec, rate) =
          if (batch == 0) (eventsPerSec * 180 / 10,
            System.currentTimeMillis() / 1000L - 180L, eventsPerSec / 10)
          else (eventsPerSec, System.currentTimeMillis() / 1000L, eventsPerSec)
        input.addData(Loggen.wireMessages(n,
          seed = batch.toLong, // fresh draw per batch
          startEpochSec = startSec,
          eventsPerSec = rate))
        queries.foreach(_.processAllAvailable())
        batch += 1
        val elapsed = (System.currentTimeMillis() - t0) / 1000L
        if (batch % 10 == 0)
          println(s"[$elapsed s] $batch batches, " +
            s"${batch * eventsPerSec} events" +
            (if (redis.isEmpty) s", ${memStore.counters.size} counter keys, " +
              s"${memStore.sets.size} set keys"
            else " → redis"))
        Thread.sleep(1000L)
      }
    } finally {
      queries.foreach(_.stop())
      server.stop()
      redis.foreach(_.close())
      spark.stop()
    }
    println(s"done: $batch batches, ${batch * eventsPerSec} events")
  }
}
