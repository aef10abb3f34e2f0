package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LogEvent.{Uid, ExperimentId, Variant, Ts}
import Windows.{minuteKey, minuteStart, zeroFilledSeries}

/** The reference's full metric catalog (SURVEY.md §2.3/§2.4, A1–A9 and
  * Q1–Q5), re-expressed as declarative Spark aggregations over the
  * normalized LogEvent stream.
  *
  * Where the reference incrementally merges per-event state into Redis
  * (INCRBY/PFADD/SADD keyed by `(family, dims, minute)`,
  * MetricsCalculationPipeline.java:59-193), we declare the equivalent
  * `groupBy(...).agg(...)` and let Spark's partial aggregation do the
  * map-side merge — the same mergeable-state model, with the shuffle
  * carrying partially-aggregated state rather than raw events.
  *
  * Every metric that the reference keeps in dual approx (HLL) + exact
  * (set) form gets both an `_approx` (`approx_count_distinct`, HLL++)
  * and an exact (`countDistinct`) variant (README.md:22-30 rationale).
  * Only exact variants are DuckDB-oracle-checked; approx variants are
  * bound-checked in ScalaTest (SURVEY.md §5.1).
  *
  * All inputs are the normalized LogEvent frame from
  * [[graft.sources.Tables.logEvents]]; all time outputs are rendered
  * through the reference's minute-key string format.
  */
object Metrics {

  /** A1 — visits (event count) per minute
    * (reference: MetricsCalculationPipeline.java:59-71). */
  def visitsPerMinute(ev: DataFrame): DataFrame =
    ev.groupBy(minuteStart(col(Ts)).as("m"))
      .agg(count(lit(1)).as("visits"))
      .select(minuteKey(col("m")).as("minute_key"), col("visits"))
      .orderBy("minute_key")

  /** [[visitsPerMinute]] maintained INCREMENTALLY: the event stream
    * split into four deterministic arrival batches (hash of uid — the
    * split is internal, the result is split-invariant), each batch
    * partially aggregated, then fold-merged into the running snapshot
    * with [[Maintenance.mergeCounts]]. The algebraic merge law makes
    * the fold EXACTLY the one-shot aggregate — same oracle SQL as
    * `visits_per_minute` — which is the property that lets a 100 TB
    * metrics store absorb each day's arrivals without recomputing
    * history. */
  def visitsIncremental(ev: DataFrame): DataFrame = {
    def partial(b: DataFrame): DataFrame =
      b.groupBy(minuteStart(col(Ts)).as("m"))
        .agg(count(lit(1)).as("visits"))
    val folded = (0 until 4)
      .map(i => partial(ev.where(pmod(xxhash64(col(Uid)), lit(4)) === i)))
      .reduce((snap, d) => Maintenance.mergeCounts(snap, d, Seq("m"), "visits"))
    folded.select(minuteKey(col("m")).as("minute_key"), col("visits"))
      .orderBy("minute_key")
  }

  /** A1 extension — sliding (hopping) event-time windows, a shape the
    * reference's minute-key encoding cannot express (each event lands
    * in exactly `minutes` overlapping buckets; the reference's string
    * keys give tumbling only). Spark's `window(ts, len, slide)`
    * replicates each row into its covering windows scan-side before
    * one partial-aggregated shuffle — row growth is ×`minutes`, so
    * keep spans small relative to slide at scale. */
  def visitsSliding(ev: DataFrame, minutes: Int = 5): DataFrame =
    slidingFromWindows(slidingWindows(ev, minutes))

  /** [[visitsSliding]]'s grain: visits per covering window `w`. A count,
    * so over a stream it equals the batch grain under any slicing. */
  private[graft] def slidingWindows(ev: DataFrame, minutes: Int = 5): DataFrame =
    ev.groupBy(window(col(Ts), s"$minutes minutes", "1 minute").as("w"))
      .agg(count(lit(1)).as("visits"))

  /** [[visitsSliding]]'s readout over its grain. */
  private[graft] def slidingFromWindows(windows: DataFrame): DataFrame =
    windows
      .select(date_format(col("w.start"), Windows.MinuteKeyFormat)
        .as("window_start"), col("visits"))
      .orderBy("window_start")

  /** Rolling actives (the DAU/WAU shape at minute granularity):
    * distinct users over the trailing `minutes`-minute window, one row
    * per window position. Same covering-window replication as
    * [[visitsSliding]] but with a distinct-aggregate — the replicated
    * (window, uid) stream is partially deduplicated map-side before
    * the shuffle. Spark has no `count(DISTINCT) OVER`, and a
    * collect_set frame would hold per-window member sets in memory;
    * the replicate-then-groupBy form is the scalable equivalent (state
    * per group is a hash of uids, spillable, or swap in
    * `approx_count_distinct` for sketch-sized state at real DAU/WAU
    * spans). */
  def rollingActiveUsers(ev: DataFrame, minutes: Int = 5): DataFrame =
    activesFromUnits(activeUnits(ev, minutes))

  /** [[rollingActiveUsers]]'s grain: one row per (covering window `w`,
    * uid) — the (window, uid) dedup a count-distinct plans anyway, made
    * explicit so a stream can keep it (streaming aggregation has no
    * distinct aggregates). */
  private[graft] def activeUnits(ev: DataFrame, minutes: Int = 5): DataFrame =
    ev.groupBy(window(col(Ts), s"$minutes minutes", "1 minute").as("w"), col(Uid))
      .agg(count(lit(1)).as("events"))

  /** [[rollingActiveUsers]]'s readout: distinct users per window. */
  private[graft] def activesFromUnits(units: DataFrame): DataFrame =
    units.groupBy(col("w"))
      .agg(count(lit(1)).as("active_users"))
      .select(date_format(col("w.start"), Windows.MinuteKeyFormat)
        .as("window_start"), col("active_users"))
      .orderBy("window_start")

  /** Cohort retention: users cohorted by their first-seen minute; for
    * each (cohort, minutes-since-first) offset, how many of the
    * cohort's users were active. Two shuffles — the min-aggregate that
    * builds the cohort table and the final (cohort, offset) rollup;
    * the events⋈cohort join broadcasts when the user dimension is
    * small and AQE picks the shuffle strategy when it is not. */
  def cohortRetention(ev: DataFrame): DataFrame = {
    val firstSeen = ev
      .groupBy(col(Uid))
      .agg(min(minuteStart(col(Ts))).as("cohort_m"))
    val offsets = ev
      .select(col(Uid), minuteStart(col(Ts)).as("m"))
      .join(firstSeen, Uid)
      .groupBy(col("cohort_m"),
        ((unix_timestamp(col("m")) - unix_timestamp(col("cohort_m"))) / 60)
          .cast("long").as("offset_min"))
      .agg(countDistinct(col(Uid)).as("active_users"))
    offsets
      .select(minuteKey(col("cohort_m")).as("cohort_minute"),
        col("offset_min"), col("active_users"))
      .orderBy("cohort_minute", "offset_min")
  }

  /** A2 approx — unique users per minute, HLL estimate
    * (reference: PFADD/PFCOUNT, MetricsCalculationPipeline.java:183-189). */
  def uniqueUsersPerMinuteApprox(ev: DataFrame, rsd: Double = 0.05): DataFrame =
    ev.groupBy(minuteStart(col(Ts)).as("m"))
      .agg(approx_count_distinct(col(Uid), rsd).as("unique_users"))
      .select(minuteKey(col("m")).as("minute_key"), col("unique_users"))
      .orderBy("minute_key")

  /** A3 exact — unique users per minute (reference: SADD shadow,
    * MetricsCalculationPipeline.java:191-193). */
  def uniqueUsersPerMinute(ev: DataFrame): DataFrame =
    ev.groupBy(minuteStart(col(Ts)).as("m"))
      .agg(countDistinct(col(Uid)).as("unique_users"))
      .select(minuteKey(col("m")).as("minute_key"), col("unique_users"))
      .orderBy("minute_key")

  /** A4 — unique users per experiment x variant x minute (3-dim key,
    * reference: MetricsCalculationPipeline.java:73-87). */
  def usersPerExperimentVariantMinute(ev: DataFrame): DataFrame =
    ev.groupBy(
        col(ExperimentId), col(Variant), minuteStart(col(Ts)).as("m"))
      .agg(countDistinct(col(Uid)).as("unique_users"))
      .select(col(ExperimentId), col(Variant),
        minuteKey(col("m")).as("minute_key"), col("unique_users"))
      .orderBy(ExperimentId, Variant, "minute_key")

  /** A5 — unique users per variant, all time
    * (reference: MetricsCalculationPipeline.java:90-107). */
  def uniqueUsersPerVariant(ev: DataFrame): DataFrame =
    ev.groupBy(col(Variant))
      .agg(countDistinct(col(Uid)).as("unique_users"))
      .orderBy(Variant)

  def uniqueUsersPerVariantApprox(ev: DataFrame): DataFrame =
    ev.groupBy(col(Variant))
      .agg(approx_count_distinct(col(Uid)).as("unique_users"))
      .orderBy(Variant)

  /** A6 — unique users per experiment, all time
    * (reference: MetricsCalculationPipeline.java:109-129). */
  def uniqueUsersPerExperiment(ev: DataFrame): DataFrame =
    ev.groupBy(col(ExperimentId))
      .agg(countDistinct(col(Uid)).as("unique_users"))
      .orderBy(ExperimentId)

  /** A7 — active experiments per minute: distinct *experiment ids*, not
    * uids (reference: MetricsCalculationPipeline.java:131-155, read via
    * SCARD TimeseriesMetricsController.java:88-107). */
  def activeExperimentsPerMinute(ev: DataFrame): DataFrame =
    ev.groupBy(minuteStart(col(Ts)).as("m"))
      .agg(countDistinct(col(ExperimentId)).as("active_experiments"))
      .select(minuteKey(col("m")).as("minute_key"), col("active_experiments"))
      .orderBy("minute_key")

  /** A8 — active variants per minute
    * (reference: MetricsCalculationPipeline.java:157-180). */
  def activeVariantsPerMinute(ev: DataFrame): DataFrame =
    ev.groupBy(minuteStart(col(Ts)).as("m"))
      .agg(countDistinct(col(Variant)).as("active_variants"))
      .select(minuteKey(col("m")).as("minute_key"), col("active_variants"))
      .orderBy("minute_key")

  /** A9 / Q4 — pairwise variant user-overlap. The reference enumerates
    * all C(n,2) unordered variant pairs and runs SINTERSTORE + SCARD per
    * pair (TimeseriesMetricsController.java:109-136) — O(pairs) Redis
    * round trips. Here a single distinct self-join computes every pair
    * at once; `variant_a < variant_b` reproduces the unordered-pair,
    * no-self-pair semantics of `Sets.combinations(n, 2)`.
    *
    * Scale note: the distinct (variant, uid) frame is |variants| x
    * |users| at most; the self-join shuffles on uid (the high-
    * cardinality side) and aggregates partial — no pair blow-up before
    * the join, and pairs with zero overlap never materialize.
    */
  def variantOverlap(ev: DataFrame): DataFrame = {
    val uv = ev.select(col(Variant), col(Uid)).distinct()
    val a = uv.toDF("variant_a", Uid)
    val b = uv.toDF("variant_b", Uid)
    a.join(b, Seq(Uid))
      .where(col("variant_a") < col("variant_b"))
      .groupBy("variant_a", "variant_b")
      .agg(count(lit(1)).as("overlap_users"))
      .orderBy("variant_a", "variant_b")
  }

  /** A9 scale twin — approximate variant overlap via theta sketches
    * (Spark 4 DataSketches): one sketch per variant (bounded state, a
    * few KB regardless of user count), then pairwise
    * `theta_intersection` + estimate on the |variants|²-sized sketch
    * table. HLL cannot intersect (union only); theta is the sketch
    * family built for it — at 100 TB the reference's SINTERSTORE over
    * exact SADD sets is unpayable, this is its replacement. Exact
    * below ~4k uniques per sketch (theta stores raw hashes until
    * saturation), so the fixture-scale estimate matches
    * [[variantOverlap]]; MetricsSpec bounds the error. Rows-only for
    * the driver (sketch estimates have no SQL oracle). */
  def variantOverlapApprox(ev: DataFrame): DataFrame = {
    val sk = ev.groupBy(col(Variant).as("variant"))
      .agg(expr(s"theta_sketch_agg($Uid)").as("sk"))
    sk.toDF("variant_a", "sk_a")
      .join(sk.toDF("variant_b", "sk_b"), col("variant_a") < col("variant_b"))
      .select(col("variant_a"), col("variant_b"),
        expr("CAST(theta_sketch_estimate(theta_intersection(sk_a, sk_b)) AS BIGINT)")
          .as("overlap_users_est"))
      .orderBy("variant_a", "variant_b")
  }

  /** Q1 — visits time series: last N closed minutes, zero-filled
    * (reference: TimeseriesMetricsController.java:45-67). */
  def visitsTimeseries(ev: DataFrame, lastMinutes: Int = 10): DataFrame = {
    val agg = ev
      .groupBy(Windows.minuteStart(col(Ts)).as("minute_start"))
      .agg(count(lit(1)).as("visits"))
    zeroFilledSeries(ev, col(Ts), lastMinutes, agg, "visits")
  }

  /** Q2 — unique-users time series (exact twin of the PFCOUNT read,
    * reference: TimeseriesMetricsController.java:69-86). */
  def usersTimeseries(ev: DataFrame, lastMinutes: Int = 10): DataFrame = {
    val agg = ev
      .groupBy(Windows.minuteStart(col(Ts)).as("minute_start"))
      .agg(countDistinct(col(Uid)).as("unique_users"))
    zeroFilledSeries(ev, col(Ts), lastMinutes, agg, "unique_users")
  }

  /** Q3 — active-experiments time series (reference:
    * TimeseriesMetricsController.java:88-107, SCARD read). */
  def experimentsTimeseries(ev: DataFrame, lastMinutes: Int = 10): DataFrame = {
    val agg = ev
      .groupBy(Windows.minuteStart(col(Ts)).as("minute_start"))
      .agg(countDistinct(col(ExperimentId)).as("active_experiments"))
    zeroFilledSeries(ev, col(Ts), lastMinutes, agg, "active_experiments")
  }

  /** A3 under key skew: salted two-phase exact distinct. Phase 1
    * groups by (minute, salt) where salt = hash(member) % nSalts, so a
    * hot minute's members spread over nSalts reducers; phase 2 sums the
    * per-salt distinct counts — EXACT, because the salt is a function
    * of the member: each distinct member lands in exactly one salt
    * bucket. This is the standard skew escape hatch when one group key
    * (a viral minute, a bot user) would otherwise pin a single reducer.
    * Same output and oracle as [[uniqueUsersPerMinute]]. */
  def uniqueUsersPerMinuteSalted(ev: DataFrame, nSalts: Int = 16): DataFrame =
    ev.groupBy(minuteStart(col(Ts)).as("m"),
        pmod(xxhash64(col(Uid)), lit(nSalts.toLong)).as("salt"))
      .agg(countDistinct(col(Uid)).as("u"))
      .groupBy(col("m"))
      .agg(sum(col("u")).as("unique_users"))
      .select(minuteKey(col("m")).as("minute_key"), col("unique_users"))
      .orderBy("minute_key")

  /** Mergeable-sketch rollup — the PFMERGE pattern (reference:
    * README.md:22-30 HLL rationale; PFADD writers
    * MetricsCalculationPipeline.java:183-189). Stores one DataSketches
    * HLL sketch per minute (`hll_sketch_agg`), then re-aggregates the
    * *sketches* (`hll_union_agg`) per hour without touching raw events
    * — at 100 TB this is how a metrics store answers coarser-grained
    * distinct questions from pre-aggregated state. Output: per-hour
    * estimated uniques from unioned minute sketches. Rows-only (sketch
    * estimates have no exact oracle); the ScalaTest bound-checks
    * against exact per-hour distinct counts. */
  def uniqueUsersHourlyFromMinuteSketches(ev: DataFrame): DataFrame =
    ev.groupBy(minuteStart(col(Ts)).as("m"))
      .agg(expr(s"hll_sketch_agg($Uid)").as("sketch"))
      .groupBy(date_trunc("hour", col("m")).as("h"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("unique_users"))
      .select(date_format(col("h"), "yyyy_MM_dd'T'HH").as("hour_key"),
        col("unique_users"))
      .orderBy("hour_key")

  /** Gap-based sessionization (extension): a new session starts when a
    * user's inter-event gap exceeds `gapSeconds`. Classic streaming-
    * analytics shape the reference lacks: lag + cumulative-sum windows
    * partitioned by user (one shuffle on user_id), then two cheap
    * aggregations. Works on epoch seconds so Spark and the DuckDB
    * oracle compare integers, never intervals. */
  def userSessions(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = events
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_s", lag(col("ts").cast("long"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_s").isNull ||
          col("ts").cast("long") - col("prev_s") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("session_events"))
    sessions.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("session_events")).as("max_session_events"),
        sum(col("session_events")).as("n_events"))
      .orderBy("user_id")
  }

  /** Sessionization via Spark's native `session_window` operator — the
    * same semantics as [[userSessions]] (and the same oracle), but
    * expressed as a session-window aggregate, which also runs
    * incrementally on a stream with a watermark (see
    * [[graft.streaming.StreamingMetrics.startSessionization]], which
    * keeps its own fold over the stream's `uid`/`timestamp` columns).
    *
    * Boundary alignment with the lag formulation: [[userSessions]]
    * splits when `floor(epoch(b)) - floor(epoch(a)) > gap`. Events are
    * truncated to seconds first, and since Spark merges sessions
    * inclusively at the window end (next.start <= prev.end extends the
    * session), a gap of exactly `gapSeconds` seconds merges ⟺
    * second-diff ≤ gap — precisely the lag semantics. */
  def userSessionsViaSessionWindow(events: DataFrame,
      gapSeconds: Long = 1800): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(date_trunc("second", col("ts")),
          s"$gapSeconds seconds").as("sw"))
      .agg(count(lit(1)).as("session_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("session_events")).as("max_session_events"),
        sum(col("session_events")).as("n_events"))
      .orderBy("user_id")

  def userSessionsSql(gapSeconds: Long = 1800): String =
    s"""WITH ordered AS (
       |  SELECT user_id, event_id, ts,
       |    lag(floor(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev_s
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN prev_s IS NULL OR floor(epoch(ts))::BIGINT - prev_s > $gapSeconds
       |      THEN 1 ELSE 0 END AS new_session
       |  FROM ordered),
       |sess AS (
       |  SELECT user_id,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged),
       |per_session AS (
       |  SELECT user_id, session_id, count(*) AS session_events
       |  FROM sess GROUP BY 1, 2)
       |SELECT user_id, count(*) AS n_sessions,
       |  max(session_events) AS max_session_events,
       |  sum(session_events)::BIGINT AS n_events
       |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q5 — the spine itself (reference:
    * TimeseriesMetricsController.java:138-152). */
  def timesSpine(ev: DataFrame, lastMinutes: Int = 10): DataFrame =
    Windows.timeSpine(ev, col(Ts), lastMinutes)
      .select(date_format(col("minute_start"), Windows.MinuteKeyFormat)
        .as("minute_key"))
      .orderBy("minute_key")

  /** A2/A3 third sibling — EXACT distinct users per minute via roaring
    * bitmaps (`bitmap_construct_agg`), the Spark analogue of keeping a
    * Redis BITMAP per minute and reading `BITCOUNT` (the third idiom
    * next to the reference's PFADD/HLL approx and SADD/SCARD exact
    * sets). Unlike `countDistinct` — whose partial state is the raw
    * value set — the bitmap buffer is a fixed 4 KB per (minute,
    * 32k-id bucket) REGARDLESS of cardinality, and merges with
    * bitwise OR exactly like PFMERGE: the two-level groupBy below is
    * the same partial/final split Redis gets from per-shard bitmaps
    * OR-ed at read. For dense integer id spaces this beats both
    * siblings at scale; the id→position contract is the caller's
    * (here: numeric uids). */
  def uniqueUsersBitmap(ev: DataFrame): DataFrame =
    ev.select(minuteKey(col(Ts)).as("minute_key"),
        // bitmap_bit_position is only defined for positive inputs:
        // shift ids by +1 so uid 0 is valid, and fail LOUDLY on a
        // negative id rather than silently corrupting the count (the
        // raise_error sits in the value path so it can't be pruned)
        when(col(Uid).cast("long") < 0L,
          raise_error(lit("uniqueUsersBitmap requires non-negative uids"))
            .cast("long"))
          .otherwise(col(Uid).cast("long") + 1L).as("uid_pos"))
      .groupBy(col("minute_key"), expr("bitmap_bucket_number(uid_pos)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(uid_pos))").as("bm"))
      .groupBy("minute_key")
      .agg(expr("sum(bitmap_count(bm))").as("unique_users"))
      .orderBy("minute_key")
}
