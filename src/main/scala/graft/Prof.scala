package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query phase profiler (guide §1: measure first) — answers "is
  * this query's wall time executor compute, shuffle, or driver-side
  * planning/codegen?" for one catalog query at a time, with the SAME
  * session configuration and warmup as [[Bench]] so the numbers
  * decompose the bench reading rather than some other run.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Prof <query> [reps]"
  *
  * Per rep it prints: wall seconds, the DataFrame construction share
  * of them, the per-query fixed costs (generated classes compiled,
  * i.e. code-cache misses, and the jobs run while constructing the
  * frame), and scheduler-side totals from a listener (jobs, stages,
  * tasks, summed task time, summed shuffle fetch-wait + write time,
  * summed JVM GC time, shuffle bytes); the last rep adds the top
  * stages by task time. Driver-side cost ≈ wall − (task time / cores). */
object Prof {
  /** Local property that marks the jobs a query's construction runs. */
  private val Phase = "graft.prof.phase"

  private class Totals extends SparkListener {
    val jobs = new AtomicInteger(0)
    val buildJobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val fetchWaitMs = new AtomicLong(0L)
    val shuffleWriteMs = new AtomicLong(0L)
    val gcMs = new AtomicLong(0L)
    val shuffleReadB = new AtomicLong(0L)
    val shuffleWriteB = new AtomicLong(0L)
    // per-stage task-time totals (stageId -> (ms, name))
    val perStage =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (j.properties != null && j.properties.getProperty(Phase) == "build")
        buildJobs.incrementAndGet()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val id = s.stageInfo.stageId
      // RDD scope names identify the OPERATORS inside the stage
      // (WholeStageCodegen ids, Exchange, InMemoryTableScan, ...) —
      // far more useful than the callsite the stage name carries
      val scopes = s.stageInfo.rddInfos
        .flatMap(r => r.scope.map(_.name))
        .distinct.mkString("|").take(160)
      val name = scopes + " #tasks=" + s.stageInfo.numTasks
      perStage.merge(id, (0L, name),
        (a, b) => (a._1 + b._1, if (b._2.nonEmpty) b._2 else a._2))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        shuffleWriteMs.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000L)
        shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        perStage.merge(t.stageId, (m.executorRunTime, ""),
          (a, b) => (a._1 + b._1, if (a._2.nonEmpty) a._2 else b._2))
      }
    }
    def reset(): Unit = { Seq(jobs, buildJobs, stages, tasks).foreach(_.set(0)); () }
    def resetL(): Unit = {
      Seq(taskMs, fetchWaitMs, shuffleWriteMs, gcMs,
        shuffleReadB, shuffleWriteB).foreach(_.set(0L))
      perStage.clear()
    }
    def topStages(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      perStage.asScala.toSeq.sortBy(-_._2._1).take(n).map {
        case (id, (ms, name)) =>
          f"    stage $id%5d ${ms / 1e3}%8.2fs  ${name.take(140)}"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse {
      System.err.println("usage: runMain graft.Prof <query> [reps]")
      sys.exit(2)
    }
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the EXACT Bench session config, from the shared factory, so Prof
    // decomposes the bench reading rather than some other run
    val spark = EngineSession.local(cpus)
    val fn = SparkEntry.queries.getOrElse(name, {
      System.err.println(s"unknown query: $name")
      spark.stop(); sys.exit(2)
    })
    Bench.warmup(spark, sfDir)
    val tot = new Totals
    spark.sparkContext.addSparkListener(tot)
    for (r <- 1 to reps) {
      tot.reset(); tot.resetL()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      spark.sparkContext.setLocalProperty(Phase, "build")
      val df = try fn(spark, sfDir)
        finally spark.sparkContext.setLocalProperty(Phase, null)
      val tBuild = System.nanoTime()
      df.count()
      val t1 = System.nanoTime()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      spark.catalog.clearCache()
      // listener events drain asynchronously: poll until the task
      // count stops moving (a fixed 300 ms undercounted per-rep totals
      // on loaded runs), bounded at 3 s
      var last = -1
      var spins = 0
      while (tot.tasks.get() != last && spins < 10) {
        last = tot.tasks.get(); spins += 1; Thread.sleep(300)
      }
      val wall = (t1 - t0) / 1e9
      val build = (tBuild - t0) / 1e9
      val cores = cpus.toInt
      val taskS = tot.taskMs.get() / 1e3
      println(f"PROF $name rep=$r wall=$wall%.3f build=$build%.3f " +
        f"compiles=$compiles buildJobs=${tot.buildJobs.get()} " +
        f"jobs=${tot.jobs.get()} stages=${tot.stages.get()} tasks=${tot.tasks.get()} " +
        f"taskTime=${taskS}%.2fs (/${cores} cores = ${taskS / cores}%.3fs) " +
        f"gc=${tot.gcMs.get() / 1e3}%.2fs fetchWait=${tot.fetchWaitMs.get() / 1e3}%.2fs " +
        f"shufW=${tot.shuffleWriteMs.get() / 1e3}%.2fs " +
        f"shufRB=${tot.shuffleReadB.get() / 1024}KB shufWB=${tot.shuffleWriteB.get() / 1024}KB")
      if (r == reps) tot.topStages(8).foreach(println)
    }
    spark.stop()
  }
}
