package graft.streaming

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.LogEvent
import graft.operators.Windows

/** The pluggable sink boundary of the streaming pipeline: the write
  * verbs the reference issues against Redis
  * (`RedisIO.write().withMethod(Method.X)`,
  * MetricsCalculationPipeline.java:54-57), as a trait a real client
  * drops into. The pipeline only ever WRITES through this interface;
  * the dashboard reads through [[MetricsReader]], which both shipped
  * stores also implement.
  *
  * Mapping to the reference's sink methods:
  *  - `incrBy` ↔ `Method.INCRBY` (visit counters; the pipeline sends
  *    per-batch PARTIAL counts under the [[writeBatchOnce]] ledger)
  *  - `sadd`   ↔ `Method.SADD` (exact member sets; idempotent)
  *  - `pfadd`  ↔ `Method.PFADD` (members folded into a sketch by the
  *    store; a partition-capable store receives them worker-side)
  *  - `put`    — a last-write-wins upsert of a materialized value
  *    (Redis SET); the pipeline itself issues none.
  *
  * Implementations must be Serializable: the sink is captured by
  * `foreachBatch` closures (driver-side execution, but Spark
  * checkpoints the closure).
  *
  * Shipped implementations: [[MetricsStore]] (in-memory, the test
  * double) and [[graft.store.RedisMetricsSink]] (RESP over a socket —
  * the real-Redis deployment, pipeline-capable).
  */
trait KeyValueMetricsSink extends Serializable {
  /** Commutative counter merge (Redis INCRBY). */
  def incrBy(key: String, n: Long): Unit
  /** Last-write-wins upsert of a materialized value (Redis SET). */
  def put(key: String, v: Long): Unit
  /** Idempotent member-set union (Redis SADD). */
  def sadd(key: String, members: Iterable[String]): Unit
  /** Mergeable approx-distinct member add (Redis PFADD): the store
    * folds members into a sketch and serves the estimate at read —
    * order-insensitive and idempotent like SADD, but O(KB) state per
    * key regardless of cardinality. The default keeps an exact set
    * (an in-memory store has no reason to approximate); the Redis
    * implementation issues real PFADD so sketches merge SERVER-side
    * across concurrent writers (reference
    * MetricsCalculationPipeline.java:73-87). */
  def pfadd(key: String, members: Iterable[String]): Unit = sadd(key, members)
  /** One micro-batch of writes in a single call — the verb the
    * pipeline's foreachBatch actually issues, so a remote store can
    * pipeline the whole batch (1 round trip per micro-batch instead of
    * per key — see [[graft.store.RedisMetricsSink.writeBatch]]). The
    * default delegates per key, which is exactly right for in-memory
    * stores. */
  def writeBatch(incrs: Seq[(String, Long)] = Nil,
      puts: Seq[(String, Long)] = Nil,
      sadds: Seq[(String, Iterable[String])] = Nil,
      pfadds: Seq[(String, Iterable[String])] = Nil): Unit = {
    incrs.foreach { case (k, n) => incrBy(k, n) }
    puts.foreach { case (k, v) => put(k, v) }
    sadds.foreach { case (k, m) => sadd(k, m) }
    pfadds.foreach { case (k, m) => pfadd(k, m) }
  }
  /** [[writeBatch]] under a (queryId, batchId) ledger: applies the
    * batch only if that id was not applied before, returning whether it
    * ran — the effectively-once contract for non-idempotent INCRBY
    * under foreachBatch's at-least-once redelivery. The default is the
    * at-least-once fallback (no ledger — always applies); stores with
    * a ledger override: [[MetricsStore]] with its in-memory marker map,
    * [[graft.store.RedisMetricsSink]] with a MULTI/EXEC transaction
    * that commits marker + body atomically. */
  def writeBatchOnce(queryId: String, batchId: Long,
      incrs: Seq[(String, Long)] = Nil,
      puts: Seq[(String, Long)] = Nil,
      sadds: Seq[(String, Iterable[String])] = Nil,
      pfadds: Seq[(String, Iterable[String])] = Nil): Boolean = {
    writeBatch(incrs, puts, sadds, pfadds); true
  }
  /** A serializable recipe for EXECUTOR-side writes, or None when the
    * sink can only merge driver-side (an in-memory store: executor
    * copies of its maps would be lost with the task JVM... and in
    * local mode closures are still serialized per task). When Some,
    * the pipeline's fan-out pass ships its SADD/PFADD members
    * worker→store from each partition task — the reference's RedisIO
    * shape (MetricsCalculationPipeline.java:54-57), with NO driver hop:
    * at 100 TB the driver never materializes a member list. */
  def partitionWriter: Option[PartitionWriterFactory] = None
}

/** Serializable factory captured by the fan-out pass's partition tasks;
  * opens one writer per task on the executor. */
trait PartitionWriterFactory extends Serializable {
  def open(): PartitionMetricsWriter
}

/** Partition-local write face: buffered member adds, flushed (e.g. as
  * one pipelined RESP flush) on close. Implementations need not be
  * thread-safe — one instance per partition task. */
trait PartitionMetricsWriter {
  def sadd(key: String, members: Iterable[String]): Unit
  def pfadd(key: String, members: Iterable[String]): Unit
  /** Flush buffered writes and release the connection. */
  def close(): Unit
}

/** The in-memory metrics store — the engine's stand-in for the
  * reference's Redis instance, and the test double of
  * [[graft.store.RedisMetricsSink]]. Keys follow the reference's key
  * language `{family}_{dims}_{minute}`
  * (MetricsCalculationPipeline.java:198-243); merge operations are
  * commutative/idempotent counterparts of INCRBY / SADD / PFADD, applied
  * once per micro-batch (so, unlike the reference's at-least-once
  * INCRBY, counts are exactly-once — SURVEY.md §7.3 notes this as a
  * deliberate improvement).
  *
  * [[StreamingMetrics.startPipeline]] runs the same one query against
  * this store as against Redis: without a partition writer, the
  * fan-out's SADD and PFADD members come back to the driver and land
  * in the same [[writeBatchOnce]] call as the visit counts.
  */
class MetricsStore extends KeyValueMetricsSink with MetricsReader {
  val counters = TrieMap.empty[String, Long]
  val sets = TrieMap.empty[String, Set[String]]
  /** PFADD's exact in-memory fake: a set per HLL key (estimate = true
    * cardinality — an in-memory store has no reason to approximate). */
  val hlls = TrieMap.empty[String, Set[String]]

  /** INCRBY analog (MetricsCalculationPipeline.java:54-71). */
  def incrBy(key: String, n: Long): Unit =
    counters.updateWith(key) { case prev => Some(prev.getOrElse(0L) + n) }

  /** SET analog: last-write-wins upsert of a counter value. */
  def put(key: String, v: Long): Unit = counters.put(key, v)

  /** SADD analog (MetricsCalculationPipeline.java:105-129). */
  def sadd(key: String, members: Iterable[String]): Unit =
    sets.updateWith(key) { case prev => Some(prev.getOrElse(Set.empty) ++ members) }

  override def pfadd(key: String, members: Iterable[String]): Unit =
    hlls.updateWith(key) { case prev => Some(prev.getOrElse(Set.empty) ++ members) }

  def counter(key: String): Long = counters.getOrElse(key, 0L)
  def scard(key: String): Long = sets.get(key).map(_.size.toLong).getOrElse(0L)
  /** PFCOUNT face over the members folded in via [[pfadd]]. */
  def hllCount(key: String): Long = hlls.get(key).map(_.size.toLong).getOrElse(0L)

  private val appliedBatches = TrieMap.empty[(String, Long), Unit]

  /** The ledgered batch write: applies the batch only if (queryId,
    * batchId) was not applied yet, marking it applied on success — the
    * batchId ledger that makes INCRBY effectively-once under
    * foreachBatch's at-least-once redelivery. Here the writes are not
    * atomic with the marker (Redis commits both in one MULTI/EXEC), so
    * the marker is removed on failure and a crashed batch retries. */
  override def writeBatchOnce(queryId: String, batchId: Long,
      incrs: Seq[(String, Long)] = Nil,
      puts: Seq[(String, Long)] = Nil,
      sadds: Seq[(String, Iterable[String])] = Nil,
      pfadds: Seq[(String, Iterable[String])] = Nil): Boolean =
    if (appliedBatches.putIfAbsent((queryId, batchId), ()).isEmpty) {
      try { writeBatch(incrs, puts, sadds, pfadds); true }
      catch {
        case t: Throwable =>
          appliedBatches.remove((queryId, batchId)); throw t
      }
    } else false

  /** Q4 read shape: pairwise set intersection over a key family —
    * SINTERSTORE/SCARD (TimeseriesMetricsController.java:109-136), all
    * C(n,2) unordered pairs. */
  def overlap(prefix: String): Seq[(String, String, Long)] = {
    val fams = sets.keys.filter(_.startsWith(prefix)).toSeq.sorted
    for {
      a <- fams; b <- fams if a < b
    } yield (a.stripPrefix(prefix), b.stripPrefix(prefix),
      (sets(a) & sets(b)).size.toLong)
  }
}

/** Structured Streaming assembly of the reference pipeline
  * (MetricsCalculationPipeline.java:45-193): one unbounded LogEvent
  * stream, read and parsed once per micro-batch and multiplexed into its
  * metric branches, as the reference's one Dataflow job multiplexes it.
  *
  * Architecture mapping: every branch (visits counter, per-dimension
  * member sets, the `hll_dthr` PFADD members) is stateless, so the
  * pipeline is ONE streaming query whose micro-batch is a single pass
  * over its partitions — one Spark job, no shuffle, no state store —
  * on every store ([[startPipeline]]).
  *
  * [[startPipeline]] is the only query the engine starts: it feeds the
  * five dashboard panels, and no served metric needs streaming state.
  * Batch metrics (sessions, z-scores, CUSUM, best-of-n, theta overlap)
  * are catalog queries in [[graft.SparkEntry]].
  *
  * The pipeline has no watermark: the reference accepts late data
  * forever (no Beam windowing/triggers — SURVEY.md §2.3), every merge
  * is order-insensitive, so a late event folds into its original
  * minute, and with no aggregate there is no state to bound.
  */
object StreamingMetrics {

  /** Name of the fused stateless query: its checkpoint subdirectory
    * under `checkpointRoot` and its INCRBY ledger id. */
  val FanOutQuery = "metrics_fanout"
  /** Checkpoint subdirectories of the earlier one-query-per-branch
    * layout, which the fused query cannot resume. */
  private val LegacyBranches =
    Seq("visits_counter", "set_users_minute", "set_users_variant", "set_experiments_minute")

  /** `concat_ws("_", prefix, part)`, the pipeline's key language: a null
    * part leaves the bare prefix. */
  private def storeKey(prefix: String, part: String): String =
    if (part == null) prefix else prefix + "_" + part

  /** One minute's keys in a partition task, built once per task, and its
    * visit count there. */
  private final class MinuteSlot(minute: String) {
    val visits = storeKey("visitCounter", minute)
    val users = storeKey("set_dthr", minute)
    val experiments = storeKey("set_experiments", minute)
    val hll = storeKey("hll_dthr", minute)
    var count = 0L
  }

  /** Members per SADD/PFADD command a partition task ships at most. */
  private val FlushAt = 512

  /** Per-key member sets of one partition task, deduplicated locally.
    * With `ship`, a set goes out whenever it holds [[FlushAt]] members
    * (so a hot key never buffers unboundedly) and on [[drain]]; without
    * it the sets stay whole for the driver. */
  private final class MemberSets(ship: Option[(String, Iterable[String]) => Unit]) {
    val byKey = mutable.HashMap.empty[String, mutable.HashSet[String]]
    def add(key: String, member: String): Unit = if (member != null) {
      val s = byKey.getOrElseUpdate(key, mutable.HashSet.empty[String])
      if (s.add(member) && s.size >= FlushAt) ship.foreach { f => f(key, s.toSeq); s.clear() }
    }
    def drain(): Unit = ship.foreach { f =>
      byKey.foreach { case (k, s) => if (s.nonEmpty) f(k, s.toSeq) }
      byKey.clear()
    }
    def result: Map[String, Set[String]] = byKey.iterator.map { case (k, s) => k -> s.toSet }.toMap
  }

  /** One partition task's share of a micro-batch: its per-minute visit
    * counts, and the SADD and PFADD member sets it did not ship itself. */
  private final case class Share(visits: Map[String, Long],
      sadds: Map[String, Set[String]], pfadds: Map[String, Set[String]])

  /** The fan-out pass over one partition of a micro-batch (rows: minute,
    * uid, variant, experiment id). Every row bumps its minute's visit
    * count and adds its members to the SADD families' sets and the PFADD
    * family's. With a partition writer the sets ship from this task (no
    * member reaches the driver) and only the visit counts return;
    * without one the sets return too. SADD and PFADD are idempotent, so
    * a member sent by several tasks or flushes needs no global
    * `distinct`. */
  private def fanOutPartition(rows: Iterator[Row], factory: Option[PartitionWriterFactory]): Share = {
    val writer = factory.map(_.open())
    try {
      val minutes = mutable.HashMap.empty[String, MinuteSlot]
      val variants = mutable.HashMap.empty[String, String]
      val sets = new MemberSets(writer.map(w => w.sadd _))
      val hlls = new MemberSets(writer.map(w => w.pfadd _))
      rows.foreach { r =>
        val minute = r.getString(0)
        val uid = r.getString(1)
        val slot = minutes.getOrElseUpdate(minute, new MinuteSlot(minute))
        slot.count += 1
        sets.add(slot.users, uid)
        sets.add(variants.getOrElseUpdate(r.getString(2), storeKey("set_var", r.getString(2))), uid)
        sets.add(slot.experiments, r.getString(3))
        hlls.add(slot.hll, uid)
      }
      sets.drain(); hlls.drain()
      Share(minutes.valuesIterator.map(s => s.visits -> s.count).toMap, sets.result, hlls.result)
    } finally writer.foreach(_.close())
  }

  /** The reference's fan-out (P2–P8) and its store merges: INCRBY visit
    * counters, SADD `set_dthr` / `set_var` / `set_experiments` and PFADD
    * `hll_dthr`, all as ONE streaming query, [[FanOutQuery]], that reads
    * and parses each event once and keeps no state. Its micro-batch is
    * one Spark job: each partition task makes a single pass
    * ([[fanOutPartition]]) and returns its per-minute visit counts,
    * which the driver sums and applies through `writeBatchOnce` under
    * the (FanOutQuery, batchId) ledger — so a re-delivered micro-batch
    * is skipped, not double-counted. The SADD/PFADD members ship
    * worker→store through `store.partitionWriter` when the store has
    * one (the reference's RedisIO shape,
    * MetricsCalculationPipeline.java:54-57); otherwise they return with
    * the visit counts and go into that same `writeBatchOnce` call.
    *
    * Returns the one started query (as a `Seq`); callers own its
    * lifecycle. With `checkpointRoot` it checkpoints under
    * `checkpointRoot/`[[FanOutQuery]] — the restartable production form:
    * an abrupt kill re-delivers at most the in-flight batch, which the
    * ledger (INCRBY) and idempotence (SADD, PFADD) absorb. A
    * `checkpointRoot` written by the earlier one-query-per-branch layout
    * (`visits_counter`, `set_users_minute`, … subdirectories) cannot be
    * resumed and is refused. `DashboardMain` runs it on either store. */
  def startPipeline(events: Dataset[LogEvent], store: KeyValueMetricsSink,
      checkpointRoot: Option[String] = None): Seq[StreamingQuery] = {
    checkpointRoot.foreach { r =>
      val root = new org.apache.hadoop.fs.Path(r)
      val fs = root.getFileSystem(events.sparkSession.sparkContext.hadoopConfiguration)
      def exists(name: String) = fs.exists(new org.apache.hadoop.fs.Path(root, name))
      val legacy = LegacyBranches.filter(exists)
      require(legacy.isEmpty || exists(FanOutQuery),
        s"checkpoint root $r holds per-branch checkpoints (${legacy.mkString(", ")}) of " +
          s"the earlier one-query-per-branch pipeline, which the fused '$FanOutQuery' " +
          "query cannot resume; start it on a fresh checkpoint root")
    }
    val factory = store.partitionWriter
    val fanOut = events.toDF()
      .select(Windows.minuteKey(col(LogEvent.Ts)), col(LogEvent.Uid),
        col(LogEvent.Variant), col("experimentId"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val shares = batch.rdd
          .mapPartitions(rows => Iterator.single(fanOutPartition(rows, factory)))
          .collect().toSeq
        val _ = store.writeBatchOnce(FanOutQuery, batchId,
          incrs = shares.flatMap(_.visits).groupMapReduce(_._1)(_._2)(_ + _).toSeq,
          sadds = shares.flatMap(_.sadds).groupMapReduce(_._1)(_._2)(_ ++ _).toSeq,
          pfadds = shares.flatMap(_.pfadds).groupMapReduce(_._1)(_._2)(_ ++ _).toSeq)
      }
    Seq(checkpointRoot.fold(fanOut)(r => fanOut.option("checkpointLocation", s"$r/$FanOutQuery"))
      .queryName(FanOutQuery).start())
  }
}
