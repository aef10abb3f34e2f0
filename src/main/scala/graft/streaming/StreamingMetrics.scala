package graft.streaming

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.LogEvent
import graft.operators.Windows

/** The pluggable sink boundary of the streaming pipeline: the three
  * write verbs the reference issues against Redis
  * (`RedisIO.write().withMethod(Method.X)`,
  * MetricsCalculationPipeline.java:54-57), as a trait a real client
  * drops into. The pipeline only ever WRITES through this interface —
  * reads (timeseries/overlap, the dashboard face) live on the concrete
  * store, exactly as the reference's dashboard reads Redis directly.
  *
  * Mapping to the reference's sink methods:
  *  - `incrBy`  ↔ `Method.INCRBY` (visit counters; the pipeline sends
  *    per-batch PARTIAL counts, so the sink-side merge is commutative
  *    addition — at-least-once delivery under mid-batch crash, same
  *    contract as RedisIO)
  *  - `sadd`    ↔ `Method.SADD` (exact member sets; idempotent)
  *  - `put`     ↔ `Method.PFADD`'s rollup face: Spark's HLL aggregate
  *    already holds the merged sketch per key, so the sink receives
  *    the materialized PFCOUNT as an upsert (last-write-wins), rather
  *    than raw members. A Redis impl would PFADD members instead and
  *    let Redis merge — both are order-insensitive.
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
  /** Last-write-wins upsert of a materialized aggregate (the PFCOUNT
    * of Spark's own merged HLL state). */
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

/** The streaming metrics store — the engine's stand-in for the
  * reference's Redis instance. Keys follow the reference's key language
  * `{family}_{dims}_{minute}` (MetricsCalculationPipeline.java:198-243);
  * merge operations are commutative/idempotent counterparts of
  * INCRBY / SADD, applied once per micro-batch (so, unlike the
  * reference's at-least-once INCRBY, counts are exactly-once —
  * SURVEY.md §7.3 notes this as a deliberate improvement).
  *
  * In production this would be an external KV store written from
  * `foreachBatch`; a TrieMap keeps the engine self-contained and the
  * merge semantics identical. The write face is [[KeyValueMetricsSink]]
  * — swap in a Redis-backed implementation and the pipeline is the
  * reference's, verbatim.
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

  /** Upsert analog for state emitted by update-mode aggregates. */
  def put(key: String, v: Long): Unit = counters.put(key, v)

  /** SADD analog (MetricsCalculationPipeline.java:105-129). */
  def sadd(key: String, members: Iterable[String]): Unit =
    sets.updateWith(key) { case prev => Some(prev.getOrElse(Set.empty) ++ members) }

  override def pfadd(key: String, members: Iterable[String]): Unit =
    hlls.updateWith(key) { case prev => Some(prev.getOrElse(Set.empty) ++ members) }

  def counter(key: String): Long = counters.getOrElse(key, 0L)
  def scard(key: String): Long = sets.get(key).map(_.size.toLong).getOrElse(0L)
  /** PFCOUNT face: members folded via [[pfadd]] win; otherwise the
    * materialized estimate the HLL-aggregate branch `put`s. */
  def hllCount(key: String): Long =
    hlls.get(key).map(_.size.toLong).getOrElse(counter(key))

  /** Serialized theta sketches per key — the sketch flavor of the set
    * family: at 100 TB the serving store cannot hold raw uid sets, and
    * HLL cannot intersect, so the overlap endpoint's scale path keeps
    * theta sketches (KB each) and intersects them at read. */
  val sketches = TrieMap.empty[String, Array[Byte]]
  def putSketch(key: String, sk: Array[Byte]): Unit = sketches.put(key, sk)

  /** Q4 read, sketch flavor: pairwise intersection ESTIMATES over a
    * theta-sketch key family (exact while sketches are in the
    * raw-hash regime, < nominal entries) — the serving-side
    * `theta_intersection` without a Spark job per HTTP read. */
  override def overlapApprox(prefix: String): Seq[(String, String, Long)] = {
    import org.apache.datasketches.theta.{CompactSketch, SetOperation}
    import org.apache.datasketches.memory.Memory
    val fams = sketches.keys.filter(_.startsWith(prefix)).toSeq.sorted
    for { a <- fams; b <- fams if a < b } yield {
      val inter = SetOperation.builder().buildIntersection()
      inter.intersect(CompactSketch.wrap(Memory.wrap(sketches(a))))
      inter.intersect(CompactSketch.wrap(Memory.wrap(sketches(b))))
      (a.stripPrefix(prefix), b.stripPrefix(prefix),
        Math.round(inter.getResult.getEstimate))
    }
  }

  private val appliedBatches = TrieMap.empty[(String, Long), Unit]

  /** Exactly-once guard for non-idempotent merges (INCRBY) under
    * foreachBatch's at-least-once redelivery: runs `body` only if
    * (queryId, batchId) was not applied yet, marking it applied on
    * success — the batchId ledger a real store would keep, where
    * marker + writes commit as ONE transaction (e.g. Redis MULTI /
    * a WHERE-guarded SQL upsert). In this in-memory sim the body is
    * not atomic with the marker; the marker is removed on failure so
    * a crashed batch retries. Returns whether the body ran. */
  def applyBatchOnce(queryId: String, batchId: Long)(body: => Unit): Boolean =
    if (appliedBatches.putIfAbsent((queryId, batchId), ()).isEmpty) {
      try { body; true }
      catch {
        case t: Throwable =>
          appliedBatches.remove((queryId, batchId)); throw t
      }
    } else false

  /** The ledgered batch write: marker + body under [[applyBatchOnce]]. */
  override def writeBatchOnce(queryId: String, batchId: Long,
      incrs: Seq[(String, Long)] = Nil,
      puts: Seq[(String, Long)] = Nil,
      sadds: Seq[(String, Iterable[String])] = Nil,
      pfadds: Seq[(String, Iterable[String])] = Nil): Boolean =
    applyBatchOnce(queryId, batchId) { writeBatch(incrs, puts, sadds, pfadds) }

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
  * Architecture mapping:
  *  - the stateless branches (visits counter, per-dimension member sets
  *    and, on a partition-capable store, the PFADD members) are ONE
  *    streaming query whose micro-batch is a single pass over its
  *    partitions: one Spark job, no shuffle ([[startPipeline]]);
  *  - the exact distinct-users branch is the idiomatic-Spark
  *    alternative: `flatMapGroupsWithState` holding the member set in
  *    Spark's own state store, emitting updated cardinalities;
  *  - on a driver-merged store the approx branch uses
  *    `approx_count_distinct` (HLL++) in an update-mode aggregate —
  *    Spark's native PFADD/PFCOUNT, and the pipeline's only stateful
  *    query.
  *
  * No watermark by default: the reference accepts late data forever
  * (no Beam windowing/triggers — SURVEY.md §2.3), and every merge is
  * order-insensitive, so a late event folds into its original minute.
  * Pass `watermark = Some("10 minutes")` for bounded state (documented
  * deviation).
  */
object StreamingMetrics {

  private def minuteKey(prefix: String) =
    concat_ws("_", lit(prefix), Windows.minuteKey(col(LogEvent.Ts)))

  /** Name of the fused stateless query: its checkpoint subdirectory
    * under `checkpointRoot` and its INCRBY ledger id. */
  val FanOutQuery = "metrics_fanout"
  /** Name of the update-mode HLL query of driver-merged stores. */
  val HllQuery = "hll_users_minute"
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

  /** The fan-out pass over one partition of a micro-batch (rows: minute,
    * uid, variant, experiment id). Every row bumps its minute's visit
    * count and adds its members to the SADD families' sets, and with a
    * partition writer also to the PFADD family's. With a writer the sets
    * ship from this task (no member reaches the driver) and only the
    * visit counts return; without one the SADD sets return too. SADD and
    * PFADD are idempotent, so a member sent by several tasks or flushes
    * needs no global `distinct`. */
  private def fanOutPartition(rows: Iterator[Row], factory: Option[PartitionWriterFactory])
      : (Map[String, Long], Map[String, Set[String]]) = {
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
        if (writer.isDefined) hlls.add(slot.hll, uid)
      }
      sets.drain(); hlls.drain()
      (minutes.valuesIterator.map(s => s.visits -> s.count).toMap, sets.result)
    } finally writer.foreach(_.close())
  }

  /** The reference's fan-out (P2–P8) and its store merges. The
    * stateless branches — INCRBY visit counters, SADD `set_dthr` /
    * `set_var` / `set_experiments` and, on a partition-capable store,
    * PFADD `hll_dthr` — run as ONE streaming query, [[FanOutQuery]], that
    * reads and parses each event once. Its micro-batch is one Spark job:
    * each partition task makes a single pass ([[fanOutPartition]]),
    * ships its SADD/PFADD members worker→store through
    * `store.partitionWriter` (the reference's RedisIO shape,
    * MetricsCalculationPipeline.java:54-57) and returns its per-minute
    * visit counts, which the driver sums and applies through
    * `writeBatchOnce` under the (FanOutQuery, batchId) ledger — so a
    * re-delivered micro-batch is skipped, not double-counted. A store
    * without a partition writer gets its member sets from the same pass
    * and merges them in that one `writeBatchOnce` call; its HLL branch
    * is Spark's update-mode `approx_count_distinct` aggregate,
    * [[HllQuery]], the only second query.
    *
    * Returns the started queries; callers own their lifecycle. With
    * `checkpointRoot` each query checkpoints under `checkpointRoot/<name>`
    * — the restartable production form: an abrupt kill re-delivers at
    * most the in-flight batch, which the ledger (INCRBY) and idempotence
    * (SADD, PFADD, puts) absorb. A `checkpointRoot` written by the
    * earlier one-query-per-branch layout (`visits_counter`,
    * `set_users_minute`, … subdirectories) cannot be resumed and is
    * refused. */
  def startPipeline(events: Dataset[LogEvent], store: KeyValueMetricsSink,
      watermark: Option[String] = None,
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
    def withCk[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T],
        name: String): org.apache.spark.sql.streaming.DataStreamWriter[T] =
      checkpointRoot.fold(w)(r => w.option("checkpointLocation", s"$r/$name"))
    val ev0 = events.toDF()
      .withColumnRenamed("experimentId", LogEvent.ExperimentId)
    val ev = watermark.fold(ev0)(w => ev0.withWatermark(LogEvent.Ts, w))
    val factory = store.partitionWriter

    val fanOut = withCk(ev
      .select(Windows.minuteKey(col(LogEvent.Ts)), col(LogEvent.Uid),
        col(LogEvent.Variant), col(LogEvent.ExperimentId))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val shares = batch.rdd
          .mapPartitions(rows => Iterator.single(fanOutPartition(rows, factory)))
          .collect().toSeq
        val _ = store.writeBatchOnce(FanOutQuery, batchId,
          incrs = shares.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _).toSeq,
          sadds = shares.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ ++ _).toSeq)
      }, FanOutQuery).queryName(FanOutQuery).start()

    val approxUsers = if (factory.isDefined) Nil else Seq(withCk(ev
      .groupBy(minuteKey("hll_dthr").as("k"))
      .agg(approx_count_distinct(col(LogEvent.Uid)).as("v"))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.writeBatch(puts = batch.collect().toSeq
          .map(r => r.getString(0) -> r.getLong(1)))
      }, HllQuery).queryName(HllQuery).start())

    fanOut +: approxUsers
  }

  /** The visits branch with a checkpoint location — the restartable
    * production form. On restart from the same checkpoint the query
    * resumes from committed offsets, so cleanly-stopped batches are
    * never re-delivered to the store (`StreamingSpec` asserts no
    * double-count across a stop/start). foreachBatch is at-least-once
    * under mid-batch crashes; the reference's INCRBY sink has the same
    * contract, and the batchId parameter is the dedup key an idempotent
    * store would use. */
  def startVisitsCheckpointed(events: Dataset[LogEvent], store: KeyValueMetricsSink,
      checkpointDir: String, queryName: String): StreamingQuery =
    events.toDF()
      .select(minuteKey("visitCounter").as("k"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy("k").count().collect()
          .foreach(r => store.incrBy(r.getString(0), r.getLong(1)))
      }
      .queryName(queryName).start()

  /** [[startVisitsCheckpointed]] with the redelivery gap closed: each
    * micro-batch's INCRBY merges run under
    * [[MetricsStore.applyBatchOnce]], so a batch re-delivered after a
    * mid-batch crash (foreachBatch is at-least-once) is skipped instead
    * of double-counted — effectively-once INCRBY, the property the
    * reference's Redis sink lacks (SURVEY.md §7.3). */
  def startVisitsIdempotent(events: Dataset[LogEvent], store: MetricsStore,
      checkpointDir: String, queryName: String): StreamingQuery =
    events.toDF()
      .select(minuteKey("visitCounter").as("k"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val _ = store.applyBatchOnce(queryName, batchId) {
          batch.groupBy("k").count().collect()
            .foreach(r => store.incrBy(r.getString(0), r.getLong(1)))
        }
      }
      .queryName(queryName).start()

  /** Idiomatic-Spark exact distinct: the member set lives in Spark's
    * state store per group key, updated incrementally — the engine-side
    * equivalent of the reference's Redis SADD+SCARD pair, usable with
    * checkpointing/recovery. Update output mode. */
  def distinctMembersPerKey(kv: Dataset[(String, String)]): Dataset[(String, Long)] = {
    import kv.sparkSession.implicits._
    kv.groupByKey(_._1)
      .flatMapGroupsWithState[Set[String], (String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[Set[String]]) =>
          val next = state.getOption.getOrElse(Set.empty) ++ rows.map(_._2)
          state.update(next)
          Iterator((key, next.size.toLong))
      }
  }

  /** Streaming exact dedup: drop events whose key columns were already
    * seen, keeping per-key state only as long as the watermark allows —
    * the streaming face of the batch `dedup_exact` pass (a training
    * pipeline dedups its ingest stream the same way its batch store is
    * deduped). Without a watermark the state grows unboundedly, exactly
    * like the reference's forever-retained Redis sets; pass one for
    * bounded state. */
  def dedupExactStream(df: DataFrame, keys: Seq[String],
      watermark: Option[(String, String)] = None): DataFrame = {
    val wm = watermark.fold(df) { case (c, w) => df.withWatermark(c, w) }
    if (watermark.isDefined) wm.dropDuplicatesWithinWatermark(keys)
    else wm.dropDuplicates(keys)
  }

  /** Stream-static enrichment: join a stream against a batch dimension
    * table — Spark plans the static side as a broadcast per micro-batch,
    * so the stream is never shuffled. The standard shape for decorating
    * events with slowly-changing reference data (user → segment,
    * experiment → owner) on the way into the metric branches. */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "left")

  /** Stream-stream attribution: every (purchase, prior click) pair of
    * the same user within `horizon` — Spark's watermarked interval join,
    * which bounds both sides' state to the horizon. The batch as-of join
    * ([[graft.operators.AsOf]]) keeps only the LATEST prior click;
    * stream-stream joins cannot express "latest" directly (a later
    * click may still arrive), so the streaming shape emits all matches
    * within the horizon and callers post-aggregate if they need the
    * most recent.
    *
    * Inputs carry (user_id, event_id, ts); output one row per
    * (purchase, click) match. */
  def attributionStream(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    p.join(c,
      col("user_id") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Streaming sessionization via `session_window` + watermark: session
    * aggregates are emitted once their window closes (watermark passes
    * the gap), the streaming twin of
    * [[graft.operators.Metrics.userSessionsViaSessionWindow]]. Append
    * mode: each session row is final when emitted. */
  /** Sliding-window visits as an update-mode stream — the streaming
    * face of [[graft.operators.Metrics.visitsSliding]]: the same
    * grouping core (each event updates `minutes` overlapping window
    * rows per micro-batch), minus the presentation sort (sorting an
    * unbounded stream is undefined; the reader orders). Without a
    * watermark the per-window state is kept forever, matching the
    * reference's accept-late-data-forever stance; pass one to bound
    * state. */
  def slidingVisitsStream(events: Dataset[LogEvent], minutes: Int = 5,
      watermark: Option[String] = None): DataFrame = {
    val base = events.toDF()
    val wm = watermark.fold(base)(w => base.withWatermark(LogEvent.Ts, w))
    wm.groupBy(window(col(LogEvent.Ts), s"$minutes minutes", "1 minute"))
      .agg(count(lit(1)).as("visits"))
      .select(date_format(col("window.start"),
        graft.operators.Windows.MinuteKeyFormat).as("window_start"),
        col("visits"))
  }

  /** Rolling distinct actives as an update-mode stream — the streaming
    * face of [[graft.operators.Metrics.rollingActiveUsers]], with
    * `approx_count_distinct` instead of exact distinct: per-window
    * state is then one HLL sketch (KB-sized) rather than a uid set,
    * which is what makes real DAU/WAU spans (days of minutes × millions
    * of uids) streamable — the same sketch-for-state trade the
    * reference makes with PFADD (README.md:22-30). */
  def rollingActivesStream(events: Dataset[LogEvent], minutes: Int = 5,
      rsd: Double = 0.05, watermark: Option[String] = None): DataFrame = {
    val base = events.toDF()
    val wm = watermark.fold(base)(w => base.withWatermark(LogEvent.Ts, w))
    wm.groupBy(window(col(LogEvent.Ts), s"$minutes minutes", "1 minute"))
      .agg(approx_count_distinct(col(LogEvent.Uid), rsd).as("active_users"))
      .select(date_format(col("window.start"),
        graft.operators.Windows.MinuteKeyFormat).as("window_start"),
        col("active_users"))
  }

  /** A5's sketch face as a stream: all-time per-variant theta sketches
    * in an update-mode aggregate, upserted into the store per
    * micro-batch. Spark's own sketch state is the mergeable half
    * (PFADD analog); [[MetricsStore.overlapApprox]] is the read half
    * (SINTERSTORE analog) — together the scale path for the overlap
    * endpoint, whose exact-set twin keeps raw uid sets. */
  def startVariantSketches(events: Dataset[LogEvent],
      store: MetricsStore, queryName: String): StreamingQuery =
    events.toDF()
      .groupBy(concat_ws("_", lit("theta_var"), col(LogEvent.Variant)).as("k"))
      .agg(expr(s"theta_sketch_agg(${LogEvent.Uid})").as("sk"))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          store.putSketch(r.getString(0), r.getAs[Array[Byte]](1)))
      }
      .queryName(queryName).start()

  /** Streaming materialization of the BATCH store: every micro-batch
    * folds into the running [[graft.store.MetricsTables]] snapshot via
    * its PFMERGE/INCRBY merge — so the streaming face and the batch
    * face are literally the same table (the merge law tested in
    * `StoreSpec` makes the fold value-identical to one-shot
    * materialization of everything seen). The snapshot is
    * key-domain-sized; `localCheckpoint` truncates the per-batch fold
    * lineage exactly as the iterative operators do. In production the
    * fold writes a new versioned snapshot directory per batch (or
    * interval) and flips the reader pointer. */
  class StoreMaterializer {
    @volatile private var snap: Option[DataFrame] = None
    def fold(batchEvents: DataFrame): Unit = synchronized {
      val next = snap match {
        case None => graft.store.MetricsTables.materialize(batchEvents)
        case Some(s) => graft.store.MetricsTables.update(s, batchEvents)
      }
      snap = Some(next.localCheckpoint())
    }
    /** The current snapshot (empty option before the first batch). */
    def snapshot: Option[DataFrame] = snap
  }

  /** Wire a LogEvent stream into a [[StoreMaterializer]]. */
  def startStoreMaterialization(events: Dataset[LogEvent],
      mat: StoreMaterializer, queryName: String): StreamingQuery =
    events.toDF()
      .withColumnRenamed("experimentId", LogEvent.ExperimentId)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mat.fold(batch)
      }
      .queryName(queryName).start()

  /** Streaming incremental dedup's index state: MinHash band postings
    * plus the signature of every ACCEPTED (non-dup) document, and the
    * dup verdicts. In production these are bucketed tables appended
    * per micro-batch (the batch face, [[graft.operators.Dedup
    * .incrementalLshPairs]], shows that join shape); a TrieMap keeps
    * the streaming unit self-contained with identical semantics, the
    * same trade [[MetricsStore]] makes for Redis. */
  class DedupIndexStore extends Serializable {
    /** band_hash → accepted doc ids posting list. */
    val bands = TrieMap.empty[Long, List[Long]]
    /** accepted doc_id → MinHash signature (for candidate verification). */
    val sigs = TrieMap.empty[Long, Array[Long]]
    /** rejected doc_id → the accepted doc it duplicates. */
    val dups = TrieMap.empty[Long, Long]
  }

  /** Streaming incremental dedup — the ingest-time face of
    * [[graft.operators.Dedup.incrementalLshPairs]]: each arriving
    * document is signed once (the codegen'd `minhash_sig` kernel runs
    * distributed, per-row), probed against the accumulated band index,
    * and either REJECTED (recorded in `dups`, index untouched) or
    * ACCEPTED (bands + signature appended) — so the index only ever
    * holds the deduplicated corpus, exactly like a production ingest
    * gate. Candidates are verified by signature agreement, the
    * unbiased MinHash estimate of Jaccard (E[matching positions / k]
    * = J) — the standard streaming verification, since the corpus
    * texts are not retained. Docs are processed in doc_id order within
    * a batch so keep-first is deterministic.
    *
    * The per-batch index walk runs driver-side over the COLLECTED
    * micro-batch (like every foreachBatch branch above); at scale the
    * probe becomes the batch operator's band equi-join against the
    * index table, run per micro-batch from foreachBatch. */
  def startIncrementalDedup(docs: DataFrame, store: DedupIndexStore,
      queryName: String, k: Int = 4, numPerm: Int = 64, nBands: Int = 16,
      threshold: Double = 0.5): StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sigRows = graft.operators.Dedup.minhashSignatures(batch, k, numPerm)
          .select(col("doc_id"), col("sig"),
            expr(s"minhash_bands(sig, $nBands)").as("bands"))
          .collect()
        sigRows.sortBy(_.getLong(0)).foreach { r =>
          val id = r.getLong(0)
          val sig = r.getSeq[Long](1).toArray
          val bhs = r.getSeq[Long](2)
          val cands = bhs.flatMap(store.bands.get).flatten.distinct
          val best = cands.iterator.map { c =>
            val cs = store.sigs(c)
            val agree = sig.indices.count(i => sig(i) == cs(i))
            (c, agree.toDouble / sig.length)
          }.filter(_._2 >= threshold).toSeq
            .sortBy { case (cid, est) => (-est, cid) }.headOption
          best match {
            case Some((matchId, _)) => store.dups.put(id, matchId)
            case None =>
              store.sigs.put(id, sig)
              bhs.foreach(bh => store.bands.updateWith(bh)(
                p => Some(id :: p.getOrElse(Nil))))
          }
        }
      }
      .queryName(queryName).start()

  /** Streaming corpus ingest — the front half of
    * [[graft.operators.Corpus.corpusPipeline]] run continuously over a
    * document stream: per-batch quality gate (min token count +
    * trigram-repetition rule — stateless scan work), streaming exact
    * dedup on the content fingerprint (`flatMapGroupsWithState` with
    * an explicit min-doc_id representative per fingerprint — the SAME
    * pick the batch pipeline's `min(struct(doc_id, lang))` makes, so
    * an in-order replay reproduces the batch counts exactly; state is
    * one boolean per fingerprint, kept forever like the reference's
    * Redis sets), then admitted-document counts folded into the sink
    * as `corpus_docs:<split>:<lang>` INCRBY counters under the
    * (queryName, batchId) ledger. The batch-side collect is the
    * post-aggregation (split, lang) counts — bounded by label
    * cardinality, never by stream volume. With `modelGate` the
    * heuristic rules are followed by the oracled
    * [[graft.operators.Classifier.qualityScorePinned]] deployment
    * scoring (broadcast pinned-weight literal, admit `predicted = 1`)
    * — streamed scores ≡ the batch face, asserted in
    * `StreamingSpec`. */
  def startCorpusIngest(docs: DataFrame, store: KeyValueMetricsSink,
      queryName: String, minTokens: Int = 32, maxDupFrac: Double = 0.2,
      valPct: Int = 10, modelGate: Boolean = false,
      scoreDim: Int = 4096): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    val heur = docs
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= minTokens)
      .select(col("doc_id"), col("lang"), col("text"),
        expr("ngram_stats(toks, 3)").as("st"))
      .where(lit(1.0) - col("st.n_distinct_ngrams").cast("double") /
        col("st.n_ngrams").cast("double") <= maxDupFrac)
      .select(col("doc_id"), col("lang"), col("text"))
    // optional trained-model gate: the EXACT oracled deployment-path
    // arithmetic of quality_score_pinned (broadcast weight literal,
    // integer folds, one division) applied per micro-batch — still a
    // stateless scan-side projection, so the gate adds no state and
    // no shuffle to the stream
    val passed =
      if (modelGate)
        graft.operators.Classifier.withPinnedScore(heur, scoreDim)
          .where(col("predicted") === 1L)
          .select(col("doc_id"), col("lang"), col("text"))
      else heur
    val quality = passed
      .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
      .as[(Long, String, String)]
    val admitted = quality.groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, String, String)],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val rep = rows.minBy(_._1)
            Iterator((rep._1, rep._2))
          }
      }
      .toDF("doc_id", "lang")
      .select(col("doc_id"), col("lang"),
        when(graft.operators.Corpus.hashBucket(col("doc_id")) < valPct,
          lit("val")).otherwise(lit("train")).as("split"))
    admitted.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val _ = store.writeBatchOnce(queryName, batchId,
          incrs = batch.groupBy("split", "lang").count().collect().toSeq
            .map(r => s"corpus_docs:${r.getString(0)}:${r.getString(1)}" ->
              r.getLong(2)))
      }
      .queryName(queryName).start()
  }

  def startSessionization(events: Dataset[LogEvent], queryName: String,
      gapSeconds: Long = 1800, watermark: String = "1 hour"): StreamingQuery =
    events.toDF()
      .withWatermark(LogEvent.Ts, watermark)
      .groupBy(col(LogEvent.Uid),
        session_window(col(LogEvent.Ts), s"$gapSeconds seconds").as("sw"))
      .agg(count(lit(1)).as("session_events"))
      .select(col(LogEvent.Uid), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("session_events"))
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The stateful exact-uniques branch wired to a memory sink through
    * update mode; returns the started query. Results are read with
    * `spark.table(queryName)`. */
  /** Streaming trailing z-score anomaly detection — the stateful face
    * of [[graft.operators.Analytics.visitsZscore]]: watermarked
    * tumbling-minute counts close in append mode, and a
    * `flatMapGroupsWithState` pass over the (bounded, single-key)
    * closed-minute series holds the last `lookback` observations —
    * EXACT integer `(Σv, Σv²)` state, the same moments the batch
    * operator folds, so an in-order replay emits IDENTICAL z doubles
    * (asserted in `StreamingSpec`). State is `lookback` longs — a few
    * hundred bytes regardless of stream volume; the single grouping
    * key is fine because its input is the minute-level AGGREGATE, not
    * raw events. Emits `(minute_key, visits, z)` per closed minute
    * into the `queryName` memory table. */
  def startVisitsAnomaly(events: Dataset[LogEvent], queryName: String,
      watermark: String = "2 minutes", lookback: Int = 10,
      minN: Int = 5): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    val closed = events.toDF()
      .withWatermark(LogEvent.Ts, watermark)
      .groupBy(window(col(LogEvent.Ts), "1 minute"))
      .agg(count(lit(1)).as("visits"))
      .select(date_format(col("window.start"), "yyyy_MM_dd'T'HH_mm")
        .as("minute_key"), col("visits"))
      .as[(String, Long)]
    closed
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Seq[Long], (String, Long, Option[Double])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(String, Long)],
            state: GroupState[Seq[Long]]) =>
          var hist = state.getOption.getOrElse(Seq.empty)
          // closed minutes arrive batch-wise; process in minute order
          val out = rows.toSeq.sortBy(_._1).map { case (mk, v) =>
            val n = hist.length
            val z =
              if (n >= minN) {
                val s1 = hist.sum
                val s2 = hist.map(x => x * x).sum
                if (n * s2 - s1 * s1 > 0) {
                  val mean = s1.toDouble / n
                  val varS = (s2.toDouble - s1.toDouble * s1 / n) / (n - 1)
                  val zi = (v.toDouble - mean) / math.sqrt(varS)
                  Some(BigDecimal(zi).setScale(9,
                    scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
                } else None
              } else None
            hist = (hist :+ v).takeRight(lookback)
            (mk, v, z)
          }
          state.update(hist)
          out.iterator
      }
      .toDF("minute_key", "visits", "z")
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .start()
  }

  /** Streaming CUSUM level-shift monitor — the ingest-time face of
    * [[graft.operators.Analytics.visitsCusum]]. The batch face centers
    * on the full-series mean (unknowable mid-stream), so the streaming
    * deployment takes the EXPECTED rate as a parameter — exactly how
    * production CUSUM monitors run (the target is the SLO/forecast,
    * not a retrospective mean) — and maintains the two one-sided
    * statistics over CLOSED minutes in integer arithmetic: with target
    * t and slack k (both per-minute visit counts scaled ×2 to keep the
    * half-unit slack integral), S⁺ += 2v − 2t − k, S⁻ += 2t − 2v − k,
    * clamped at 0. EMPTY minutes fold too: the windowed aggregate
    * emits no row for an event-less minute, so the fold zero-fills
    * every gap between consecutive closed minutes — otherwise a total
    * outage (the canonical negative shift) could never alarm, because
    * S⁻ would only advance on minutes that HAVE events. (A source
    * that stalls entirely also stalls the event-time watermark, so
    * the final pre-silence minutes close only when events resume —
    * inherent to watermark semantics; a wall-clock liveness probe is
    * the orthogonal guard for that.) State is three longs per monitor
    * key — O(1) forever, no window history. Emits (minute_key,
    * visits, cusum_pos, cusum_neg, alarm) per closed OR gap minute;
    * alarm at S > 2·h. */
  def startVisitsCusum(events: Dataset[LogEvent], queryName: String,
      targetPerMin: Long, watermark: String = "2 minutes",
      slackHalf: Long = 1, alarmVisits: Long = 8): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    val closed = events.toDF()
      .withWatermark(LogEvent.Ts, watermark)
      .groupBy(window(col(LogEvent.Ts), "1 minute"))
      .agg(count(lit(1)).as("visits"))
      .select((col("window.start").cast("long") / 60).cast("long")
        .as("epoch_min"), col("visits"))
      .as[(Long, Long)]
    closed
      .groupByKey(_ => 0)
      // state: (S+, S-, last folded epoch minute; -1 before the first)
      .flatMapGroupsWithState[(Long, Long, Long),
        (String, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(Long, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          cusumFold(rows, state, targetPerMin, slackHalf, alarmVisits)
      }
      .toDF("minute_key", "visits", "cusum_pos", "cusum_neg", "alarm")
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .start()
  }

  /** The CUSUM state fold shared by [[startVisitsCusum]] (one global
    * monitor) and [[startKeyedCusum]] (one monitor per experiment ×
    * variant): folds a micro-batch's closed minutes for ONE monitor
    * key in minute order, zero-filling every event-less gap minute
    * between consecutive observed minutes (a total outage is the
    * canonical negative shift — without the fill S⁻ would only ever
    * advance on minutes that HAVE events). State is three longs. */
  private def cusumFold(rows: Iterator[(Long, Long)],
      state: GroupState[(Long, Long, Long)], targetPerMin: Long,
      slackHalf: Long, alarmVisits: Long)
      : Iterator[(String, Long, Long, Long, Boolean)] = {
    // built per call: DateTimeFormatter is not Serializable
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy_MM_dd'T'HH_mm")
      .withZone(java.time.ZoneOffset.UTC)
    var (sPos, sNeg, last) = state.getOption.getOrElse((0L, 0L, -1L))
    def fold(v: Long): Unit = {
      sPos = math.max(0L, sPos + 2 * v - 2 * targetPerMin - slackHalf)
      sNeg = math.max(0L, sNeg + 2 * targetPerMin - 2 * v - slackHalf)
    }
    // closed minutes arrive batch-wise; fold in minute order,
    // zero-filling every event-less gap minute in between
    val out = rows.toSeq.sortBy(_._1).iterator.flatMap { case (em, v) =>
      val gaps = if (last >= 0 && em > last + 1)
        (last + 1) until em else Seq.empty[Long]
      last = math.max(last, em)
      (gaps.map(g => (g, 0L)) :+ ((em, v))).map { case (m, vi) =>
        fold(vi)
        (fmt.format(java.time.Instant.ofEpochSecond(m * 60)), vi,
          sPos, sNeg, math.max(sPos, sNeg) > 2 * alarmVisits)
      }
    }.toSeq
    state.update((sPos, sNeg, last))
    out.iterator
  }

  /** KEYED streaming CUSUM — one independent level-shift monitor per
    * (experiment_id, variant) arm, the production multi-tenant shape
    * of [[startVisitsCusum]] (which keys the same fold on a constant:
    * one global monitor = one task's state at any scale). Each arm
    * folds ITS OWN closed per-minute counts against `targetPerMin`
    * with the identical integer recurrence and per-key gap
    * zero-filling, so one arm's outage alarms without touching its
    * siblings' statistics. State is three longs PER KEY — total state
    * is 24 bytes × live arms (bounded by experiments × variants, not
    * by event volume), sharded by Spark's state store across
    * executors exactly like any keyed stateful operator; a per-arm
    * target table (SLOs differ per experiment) would ride in as a
    * broadcast map lookup in the key extractor without changing the
    * state shape. Emits (experiment_id, variant, minute_key, visits,
    * cusum_pos, cusum_neg, alarm) per closed or gap minute. */
  def startKeyedCusum(events: Dataset[LogEvent], queryName: String,
      targetPerMin: Long, watermark: String = "2 minutes",
      slackHalf: Long = 1, alarmVisits: Long = 8): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    // Dataset[LogEvent] columns carry the case-class field names
    // (experimentId), not the wire names
    val closed = events.toDF()
      .withWatermark(LogEvent.Ts, watermark)
      .groupBy(col("experimentId"), col("variant"),
        window(col(LogEvent.Ts), "1 minute"))
      .agg(count(lit(1)).as("visits"))
      .select(col("experimentId"), col("variant"),
        (col("window.start").cast("long") / 60).cast("long")
          .as("epoch_min"), col("visits"))
      .as[(String, String, Long, Long)]
    closed
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Long, Long, Long),
        (String, String, String, Long, Long, Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Long, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          cusumFold(rows.map(r => (r._3, r._4)), state,
            targetPerMin, slackHalf, alarmVisits)
            .map(o => (key._1, key._2, o._1, o._2, o._3, o._4, o._5))
      }
      .toDF("experiment_id", "variant", "minute_key", "visits",
        "cusum_pos", "cusum_neg", "alarm")
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .start()
  }

  /** Streaming best-of-n — the ingest-time face of
    * [[graft.operators.Preference.bestOfN]]: a running per-group
    * argmax with runner-up margin. The state is a TOP-2 under the
    * batch face's total order (value desc, event_id asc), and top-2
    * maintenance is a semigroup fold (merging a candidate into
    * (best, second) keeps the two largest; order of arrival is
    * irrelevant), so the state after ANY micro-batch slicing equals
    * the one-shot batch window — including the margin, which is the
    * identical single IEEE subtraction of the identical operands
    * (asserted bit-exact in `StreamingSpec`). State is (2 doubles +
    * 2 longs + 1 bool) PER GROUP forever — bounded by live groups,
    * never by event volume — and emits each touched group's current
    * selection per micro-batch (update mode). */
  def startBestOfN(events: DataFrame, queryName: String): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("value").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(Double, Long, Double, Boolean, Long),
        (Long, Long, Double, Long, Option[Double])](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[(Double, Long, Double, Boolean, Long)]) =>
          var (bestV, bestId, secondV, hasSecond, n) = state.getOption
            .getOrElse((0.0, 0L, 0.0, false, 0L))
          rows.foreach { case (id, _, v) =>
            if (n == 0L) { bestV = v; bestId = id }
            else if (v > bestV || (v == bestV && id < bestId)) {
              secondV = bestV; hasSecond = true; bestV = v; bestId = id
            } else {
              if (!hasSecond || v > secondV) secondV = v
              hasSecond = true
            }
            n += 1
          }
          state.update((bestV, bestId, secondV, hasSecond, n))
          Iterator((user, bestId, bestV, n,
            if (hasSecond) Some(bestV - secondV) else None))
      }
      .toDF("user_id", "best_event_id", "best_value", "n_candidates",
        "margin")
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName)
      .start()
  }

  /** Streaming pass@k — the ingest-time face of
    * [[graft.operators.Preference.passAtK]]: per-task running
    * (n, c) counts are ALGEBRAIC (order- and slicing-independent),
    * and the estimator is the SAME fixed-order product chain as the
    * batch face (`Preference.passAtKExpr`), so the streamed readout
    * after any micro-batch cut is bit-identical to the batch query
    * over the same events (asserted in `StreamingSpec`). State is two
    * longs per live task; complete-mode output is task-grain. */
  def startPassAtK(events: DataFrame, queryName: String, k: Int = 4,
      threshold: Double = 100.0): StreamingQuery =
    events
      .select(col("user_id"), col("value"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > threshold, 1L).otherwise(0L)).as("c"))
      .where(col("n") >= k)
      .select(col("user_id"), col("n"), col("c"),
        expr(graft.operators.Preference.passAtKExpr(k)).as("pass_at_k"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()

  /** Streaming Wald SPRT monitor — the ingest-time face of
    * [[graft.operators.Analytics.sprtConversion]]'s FINAL row: the
    * running (n, c) conversion totals are algebraic, and the LLR and
    * decision are the SAME quantized chains as the batch face
    * (`Analytics.sprtLlrExpr`/`sprtDecisionExpr`), so the streamed
    * verdict after any micro-batch slicing is bit-identical to the
    * batch trajectory's last row over the same events (asserted in
    * `StreamingSpec`). Two longs of state total — the sequential test
    * a production gate actually polls. */
  def startSprtConversion(events: DataFrame, queryName: String,
      threshold: Double = 100.0, p0: Double = 0.10, p1: Double = 0.15,
      alpha: Double = 0.05, beta: Double = 0.05): StreamingQuery =
    events
      .select(col("value"))
      .agg(count(lit(1)).as("n_cum"),
        sum(when(col("value") > threshold, 1L).otherwise(0L))
          .as("conv_cum"))
      .withColumn("llr",
        expr(graft.operators.Analytics.sprtLlrExpr(p0, p1)))
      .select(col("n_cum"), col("conv_cum"), col("llr"),
        expr(graft.operators.Analytics.sprtDecisionExpr(alpha, beta))
          .as("decision"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()

  /** KEYED streaming SPRT — one independent Wald monitor per
    * (experiment, variant) arm, the multi-tenant production shape of
    * [[startSprtConversion]] (which runs one global monitor; the
    * [[startKeyedCusum]] relationship). State is TWO LONGS per arm
    * (n, conversions) folded in `flatMapGroupsWithState`; the LLR and
    * decision are computed DOWNSTREAM of the state fold by the SAME
    * shared SQL chains as the batch face
    * (`Analytics.sprtLlrExpr`/`sprtDecisionExpr` over the emitted
    * running totals), so each arm's verdict after any micro-batch
    * slicing is bit-identical to the batch chain over that arm's
    * events (asserted in `StreamingSpec`). Emits each touched arm's
    * current (n_cum, conv_cum, llr, decision) per micro-batch. */
  def startKeyedSprt(events: DataFrame, queryName: String,
      threshold: Double = 100.0, p0: Double = 0.10, p1: Double = 0.15,
      alpha: Double = 0.05, beta: Double = 0.05): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(get_json_object(col("props"), "$.k").as("experiment_id"),
        col("event_type").as("variant"), col("value"))
      .where(col("experiment_id").isNotNull)
      .as[(String, String, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Long, Long),
        (String, String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[(String, String, Double)],
            state: GroupState[(Long, Long)]) =>
          var (n, c) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { r =>
            n += 1; if (r._3 > threshold) c += 1
          }
          state.update((n, c))
          Iterator((key._1, key._2, n, c))
      }
      .toDF("experiment_id", "variant", "n_cum", "conv_cum")
      .select(col("experiment_id"), col("variant"), col("n_cum"),
        col("conv_cum"),
        expr(graft.operators.Analytics.sprtLlrExpr(p0, p1)).as("llr"))
      .select(col("experiment_id"), col("variant"), col("n_cum"),
        col("conv_cum"), col("llr"),
        expr(graft.operators.Analytics.sprtDecisionExpr(alpha, beta))
          .as("decision"))
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName)
      .start()
  }

  /** Streaming A/B arm statistics — the ingest-time face of
    * [[graft.operators.Analytics.variantLift]]: per-(experiment,
    * variant) running moments (n, Σv, Σv²) as DECIMAL sums, which are
    * ALGEBRAIC (order- and batch-slicing-independent), so the streamed
    * state after any micro-batch cut is bit-identical to the one-shot
    * batch aggregate — the same fold-merge law visits_incremental
    * pins for counters, extended to second moments. The serving layer
    * derives mean/lift/Welch-t from the state exactly like the batch
    * face; the state itself is bounded by the arm table (experiments ×
    * variants), so complete-mode output stays driver-sized. */
  def startVariantLift(events: DataFrame, queryName: String): StreamingQuery =
    events
      .select(get_json_object(col("props"), "$.k").as("experiment_id"),
        col("event_type").as("variant"), col("value"))
      .where(col("experiment_id").isNotNull)
      .groupBy(col("experiment_id"), col("variant"))
      .agg(count(lit(1)).as("n"),
        expr(graft.operators.Analytics.SumValue).as("s1"),
        expr(graft.operators.Analytics.SumValueSq).as("s2"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()

  /** [[startVariantLift]] completed through to the Welch-t READOUT —
    * the end-to-end A/B dashboard face: the same running arm moments,
    * then per micro-batch the IDENTICAL derivation chain as the batch
    * face (`Analytics.liftFromArms` — control pick, lift, DECIMAL(18,9)-
    * quantized t), published to a session temp view named `queryName`.
    * Because the moments are algebraic decimal sums and the derivation
    * is the shared scalar chain, the streamed readout after ANY
    * micro-batch slicing is bit-equal to `Analytics.variantLift` over
    * the same events (asserted in `StreamingSpec`). The derivation
    * runs inside `foreachBatch` on the complete-mode arm state — a
    * bounded table (experiments × variants), so the per-batch tail is
    * broadcast-sized work, never a second event scan. */
  def startVariantLiftT(events: DataFrame, queryName: String): StreamingQuery = {
    // the readout view must register on the CALLER's session —
    // foreachBatch hands its frame a per-batch cloned session whose
    // temp catalog the caller never sees
    val session = events.sparkSession
    events
      .select(get_json_object(col("props"), "$.k").as("experiment_id"),
        col("event_type").as("variant"), col("value"))
      .where(col("experiment_id").isNotNull)
      .groupBy(col("experiment_id"), col("variant"))
      .agg(count(lit(1)).as("n"),
        expr(graft.operators.Analytics.SumValue).as("s1"),
        expr(graft.operators.Analytics.SumValueSq).as("s2"))
      .writeStream.outputMode("complete")
      .foreachBatch { (arms: DataFrame, _: Long) =>
        val out = graft.operators.Analytics.liftFromArms(arms)
        // materialize the bounded readout, then publish atomically —
        // a lazy view over the batch frame would dangle once the
        // micro-batch's state snapshot is released
        val rows = out.collect()
        session
          .createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .createOrReplaceTempView(queryName)
      }
      .start()
  }

  /** Streaming Benjamini–Hochberg FDR over the live experiment
    * battery — [[startVariantLiftT]]'s correction layer: the same
    * running per-arm state EXTENDED with the conversion count (all
    * four sums algebraic — count, two DECIMAL moments, an integer
    * conversion tally — so the arm state after any micro-batch cut is
    * bit-identical to the batch aggregate), then per micro-batch the
    * IDENTICAL battery derivation as the batch face
    * (`Analytics.fdrFromArms`: shared Welch/χ²/erfc chains, BH rank +
    * reverse running-min), published to a session temp view. The
    * streamed q-values and reject set after ANY slicing are bit-equal
    * to `Analytics.fdrExperiments` over the same events (asserted in
    * `StreamingSpec`). Per-batch tail cost: the bounded battery
    * (2 rows per treated arm), never a second event scan. */
  def startFdrExperiments(events: DataFrame, queryName: String,
      alpha: Double = 0.05, threshold: Double = 100.0): StreamingQuery = {
    val session = events.sparkSession
    events
      .select(get_json_object(col("props"), "$.k").as("experiment_id"),
        col("event_type").as("variant"), col("value"))
      .where(col("experiment_id").isNotNull)
      .groupBy(col("experiment_id"), col("variant"))
      .agg(count(lit(1)).as("n"),
        expr(graft.operators.Analytics.SumValue).as("s1"),
        expr(graft.operators.Analytics.SumValueSq).as("s2"),
        sum(when(col("value") > threshold, 1L).otherwise(0L)).as("conv"))
      .writeStream.outputMode("complete")
      .foreachBatch { (arms: DataFrame, _: Long) =>
        val out = graft.operators.Analytics.fdrFromArms(arms, alpha)
        val rows = out.collect()
        session
          .createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .createOrReplaceTempView(queryName)
      }
      .start()
  }

  /** Streaming Mann–Whitney U battery — the nonparametric sibling of
    * [[startFdrExperiments]]: the running state is the tie-group
    * grain (one COUNT per (experiment, variant, value) — algebraic,
    * so the grain after any micro-batch cut is bit-identical to the
    * batch aggregate; bounded by the experiment × 2-decimal-value ×
    * variant DOMAIN, the same boundedness argument as the batch
    * face's cached grain), then per micro-batch the IDENTICAL
    * derivation tail as the batch face (`Analytics.mwuFromGrain`:
    * running control count, decimal 2U/tie sums, continuity-corrected
    * z, erfc-lattice p, BH step-up). Streamed q-values and reject set
    * after ANY slicing are bit-equal to `Analytics.mwuExperiments`
    * over the same events (asserted in `StreamingSpec`). */
  def startMwuExperiments(events: DataFrame, queryName: String,
      alpha: Double = 0.05): StreamingQuery = {
    val session = events.sparkSession
    events
      .select(get_json_object(col("props"), "$.k").as("experiment_id"),
        col("event_type").as("variant"), col("value"))
      // NULL values drop BEFORE the running grain, mirroring the
      // batch face — rank tests have no NULL observation semantics
      .where(col("experiment_id").isNotNull && col("value").isNotNull)
      .groupBy(col("experiment_id"), col("value"), col("variant"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete")
      .foreachBatch { (grain: DataFrame, _: Long) =>
        val out = graft.operators.Analytics.mwuFromGrain(grain, alpha)
        val rows = out.collect()
        session
          .createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .createOrReplaceTempView(queryName)
      }
      .start()
  }

  /** Streaming Kruskal–Wallis battery — the k-sample completion of
    * [[startMwuExperiments]], off the SAME running state: both rank
    * tests derive from the (experiment, value, variant) tie-group
    * grain (algebraic COUNTs, bounded by the experiment ×
    * 2-decimal-value × variant DOMAIN), so streaming the k-sample
    * test costs exactly one more `foreachBatch` tail — per
    * micro-batch the IDENTICAL derivation as the batch face
    * (`Analytics.kruskalFromGrain`: cumulative total count, decimal
    * 2R sums, tie-corrected H′, Wilson–Hilferty χ² tail). Streamed
    * H′/p after ANY slicing are bit-equal to
    * `Analytics.kruskalExperiments` over the same events (asserted
    * in `StreamingSpec`). */
  def startKruskalExperiments(events: DataFrame,
      queryName: String): StreamingQuery = {
    val session = events.sparkSession
    events
      .select(get_json_object(col("props"), "$.k").as("experiment_id"),
        col("event_type").as("variant"), col("value"))
      .where(col("experiment_id").isNotNull && col("value").isNotNull)
      .groupBy(col("experiment_id"), col("value"), col("variant"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete")
      .foreachBatch { (grain: DataFrame, _: Long) =>
        val out = graft.operators.Analytics.kruskalFromGrain(grain)
        val rows = out.collect()
        session
          .createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .createOrReplaceTempView(queryName)
      }
      .start()
  }

  /** Streaming CUPED readout — running per-unit period moments: the
    * state is the (experiment, user, variant, pre) grain carrying an
    * algebraic COUNT and raw-DECIMAL value sum (unit-bounded — never
    * event-sized), and per micro-batch the IDENTICAL derivation tail
    * as the batch face (`Analytics.cupedFromG1`: 1e-6 lattice unit
    * means, exact decimal pooled/arm moments, θ, adjusted means).
    *
    * The period split is a PARAMETER here — a static
    * (experiment_id, mid-in-unix-micros) frame, stream-static
    * broadcast-joined — where the batch face derives the midpoint
    * from the observed event-time bounds. That is deliberate, not a
    * shortcut: a data-derived midpoint is not computable from
    * bounded streaming state (every arriving event can move max(ts),
    * re-labeling already-aggregated rows across the pre/post
    * boundary), and in a real CUPED deployment the pre-experiment
    * window IS declared before launch (Deng et al. WSDM'13 §3 — the
    * covariate must predate assignment). Streamed output after ANY
    * slicing is bit-equal to the batch tail at the same splits
    * (asserted in `StreamingSpec` against a batch run whose derived
    * midpoints are fed back in). */
  def startCupedLift(events: DataFrame, queryName: String,
      splits: DataFrame): StreamingQuery = {
    val session = events.sparkSession
    graft.operators.Analytics.cupedBase(events)
      .join(broadcast(splits), Seq("experiment_id"))
      .groupBy(col("experiment_id"), col("user_id"), col("variant"),
        (col("us") <= col("mid")).as("pre"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s"))
      .writeStream.outputMode("complete")
      .foreachBatch { (g1: DataFrame, _: Long) =>
        val out = graft.operators.Analytics.cupedFromG1(g1)
        val rows = out.collect()
        session
          .createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .createOrReplaceTempView(queryName)
      }
      .start()
  }

  /** Streaming pairwise win-rate with Poisson-bootstrap CI — the
    * resampling member of the streaming experiment console. Running
    * state is the (experiment, user, item) exact-DECIMAL value-total
    * grain (judge-bounded, never event-sized; decimal sums are exact
    * and associative so the complete-mode aggregate equals the batch
    * grain under ANY slicing), and per micro-batch the foreachBatch
    * tail replays the IDENTICAL batch derivation
    * ([[graft.operators.Preference.winrateFromComps]]: PairExpand
    * comparisons, ×B Poisson resample, integer-exact order-statistic
    * CI, full-outer surfacing) — streamed output after every cut is
    * bit-equal to [[graft.operators.Preference.winrateBootstrapCi]]
    * over the same events (StreamingSpec asserts at BOTH kernels).
    *
    * `kernel` threads [[graft.operators.Analytics.bootstrapU]]'s
    * draw-kernel flag through the streaming path: `"md5"` (default,
    * oracle-parity) or `"xxhash64"` (the flag-gated scale kernel,
    * measured 3.5× on wide-key high-B resamples at 100× — SCALE.md
    * §7.13) — so a production micro-batch console can run the cheap
    * kernel while the pinned batch face keeps md5. The ×B explode
    * happens INSIDE foreachBatch on the judge-bounded grain, so
    * per-batch resample cost is grain-sized × B regardless of how
    * many events the micro-batch carried. */
  def startWinrateBootstrapCi(events: DataFrame, queryName: String,
      replicates: Int = 200, kernel: String = "md5"): StreamingQuery = {
    val session = events.sparkSession
    graft.operators.Preference.winrateUt(events)
      .writeStream.outputMode("complete")
      .foreachBatch { (ut: DataFrame, _: Long) =>
        // comps read twice (point + resample): cache for the batch,
        // release eagerly — a leaked per-micro-batch cache would grow
        // without bound over a long-running stream
        val comps = graft.operators.Preference.winrateComps(ut).persist()
        try {
          val out = graft.operators.Preference
            .winrateFromComps(comps, replicates, kernel)
          val rows = out.collect()
          session
            .createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
            .createOrReplaceTempView(queryName)
        } finally comps.unpersist()
      }
      .start()
  }

  def startExactUniques(events: Dataset[LogEvent], queryName: String): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    val kv = events.map(e => (
      "set_dthr_" + e.timestamp.toInstant.atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy_MM_dd'T'HH_mm")),
      e.uid))
    distinctMembersPerKey(kv)
      .toDF("minute_key", "unique_users")
      .writeStream.outputMode("update")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
