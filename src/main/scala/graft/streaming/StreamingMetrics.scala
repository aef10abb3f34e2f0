package graft.streaming

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
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
  * Beyond the pipeline, an algebraic batch metric (counts and exact
  * decimal sums over a bounded grain) has no streaming twin: its
  * streaming face is the batch operator's own grain over a stream plus
  * the batch readout, run by [[startReadout]]. The starters left here
  * are the served ones and the state folds that are not algebraic.
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
    * resumed and is refused. Kept: the served pipeline, which
    * `DashboardMain` runs. */
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

  /** The streaming face of an algebraic batch metric: `grain` is the
    * batch operator's own grain aggregate over a stream, which Spark
    * keeps in complete mode, and every micro-batch applies the batch
    * `readout` to it and publishes the collected result as the temp
    * view `view`. The grain is algebraic (counts, exact decimal sums),
    * so after any micro-batch slicing the view equals the batch face
    * `readout(grain(events so far))`; it is bounded by its key domain,
    * so the per-batch readout never rescans events. The query is named
    * `view`. */
  def startReadout(grain: DataFrame, view: String)(
      readout: DataFrame => DataFrame): StreamingQuery = {
    // foreachBatch hands its frame a per-batch cloned session whose temp
    // catalog the caller never sees: the view goes on the stream's own
    val session = grain.sparkSession
    grain.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // a readout may read the grain more than once; the cache is
        // released per batch so a long-running stream never piles them up
        val g = batch.persist()
        try {
          // materialized before it is published: a lazy view over the
          // batch frame would dangle once its state snapshot is released
          val out = readout(g)
          val rows = out.collect()
          session.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
            .createOrReplaceTempView(view)
        } finally g.unpersist()
      }
      .queryName(view).start()
  }

  /** A5's sketch face as a stream: all-time per-variant theta sketches
    * in an update-mode aggregate, upserted into the store per
    * micro-batch. Spark's own sketch state is the mergeable half
    * (PFADD analog); [[MetricsStore.overlapApprox]] is the read half
    * (SINTERSTORE analog) — together the scale path for the overlap
    * endpoint, whose exact-set twin keeps raw uid sets. Kept: the
    * dashboard's `/variantsOverlapApprox` serves its sketches. */
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
    * `StreamingSpec`. Kept as a fold: the first-seen representative
    * per fingerprint is not an algebraic grain. */
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

  /** Streaming sessionization via `session_window` + watermark: session
    * aggregates are emitted once their window closes (watermark passes
    * the gap), the streaming twin of
    * [[graft.operators.Metrics.userSessionsViaSessionWindow]]. Append
    * mode: each session row is final when emitted. Kept as a fold: a
    * later event can merge two sessions, so a session's count is not
    * an algebraic grain until the watermark closes it. */
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
    * into the `queryName` memory table. Kept as a fold: z reads a
    * lookback window over the closed-minute series. */
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
    * alarm at S > 2·h. Kept as a fold: S⁺/S⁻ are a sequential clamped
    * recurrence, not an algebraic grain. */
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
    * cusum_pos, cusum_neg, alarm) per closed or gap minute. Kept as a
    * fold, for the reason [[startVisitsCusum]] is. */
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
    * selection per micro-batch (update mode). Kept as a fold: the
    * tie-ordered top-2 is no count or sum the batch face aggregates. */
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
  }}
