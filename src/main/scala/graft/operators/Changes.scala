package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data / slowly-changing-dimension operators: the maintenance
  * shapes a warehouse built on this engine needs around the reference's
  * metrics (the reference's Redis store is effectively a continuously
  * upserted snapshot — `MetricsCalculationPipeline.java:54-57` merges
  * per-event deltas into keys forever; these operators give the same
  * "latest state" and "state history" semantics over replayable logs).
  *
  * All three are single-clustering plans: every window/groupBy in one
  * operator shares one hash partitioning, so each runs in exactly one
  * shuffle of the input (plus the final presentation sort) — the
  * property that matters at 100 TB, where a second shuffle of the fact
  * stream dominates the job.
  */
object Changes {

  /** Spark format / DuckDB format for second-precision rendering. */
  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss"
  private val DuckTsFmt = "%Y-%m-%dT%H:%M:%S"

  /** Open-ended validity sentinel (rendering nulls identically on both
    * engines without relying on null-hash conventions). */
  private val EndOfTime = "9999-12-31T00:00:00"

  /** SCD Type-2 history of each user's variant assignment: collapse the
    * per-user event stream (ordered by event time, event_id tiebreak)
    * into contiguous runs of equal `event_type`, each becoming one
    * validity row `[effective_from, effective_to)` with the last run
    * open-ended (`is_current`).
    *
    * Gaps-and-islands with a change-flag running sum rather than the
    * rn-minus-rn trick: every window here partitions by `user_id`
    * alone, so the change flag, the island id, the island groupBy
    * (clustering on (user_id, grp) is satisfied by the user_id hash),
    * and the `lead` sequencing all reuse ONE shuffle of the events.
    */
  def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runs = events
      .select(col("user_id"), col("event_type").as("variant"),
        col("ts"), col("event_id"))
      .withColumn("chg",
        // null-safe: NULL<=>NULL is true, so consecutive NULL variants
        // stay one island — exactly DuckDB's IS DISTINCT FROM
        (!(lag("variant", 1).over(w) <=> col("variant"))).cast("int"))
      .withColumn("grp", sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val islands = runs.groupBy(col("user_id"), col("grp"))
      .agg(min("variant").as("variant"), min("ts").as("from_ts"))
    // sequence islands by grp — the running change count IS the island
    // index in event order, so same-timestamp changes (tiebroken by
    // event_id upstream) stay correctly ordered where from_ts ties
    val wSeq = Window.partitionBy("user_id").orderBy("grp")
    islands
      .withColumn("to_ts", lead("from_ts", 1).over(wSeq))
      .select(col("user_id"), col("variant"),
        date_format(col("from_ts"), TsFmt).as("effective_from"),
        coalesce(date_format(col("to_ts"), TsFmt), lit(EndOfTime))
          .as("effective_to"),
        col("to_ts").isNull.as("is_current"),
        col("grp"))
      // grp is the island index in true event order — a TOTAL per-user
      // sort key even when two changes share a second-precision
      // timestamp (effective_from ties, grp never does)
      .orderBy("user_id", "grp")
      .drop("grp")
  }

  val scd2HistorySql: String =
    s"""WITH e AS (SELECT user_id, event_type AS variant, ts, event_id FROM events),
       |r AS (SELECT *, CASE WHEN lag(variant) OVER
       |        (PARTITION BY user_id ORDER BY ts, event_id)
       |        IS DISTINCT FROM variant THEN 1 ELSE 0 END AS chg
       |      FROM e),
       |r2 AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS grp
       |       FROM r),
       |isl AS (SELECT user_id, grp, min(variant) AS variant, min(ts) AS from_ts
       |        FROM r2 GROUP BY user_id, grp),
       |s AS (SELECT *, lead(from_ts) OVER
       |        (PARTITION BY user_id ORDER BY grp) AS to_ts
       |      FROM isl)
       |SELECT user_id, variant,
       |  strftime(from_ts, '$DuckTsFmt') AS effective_from,
       |  coalesce(strftime(to_ts, '$DuckTsFmt'), '$EndOfTime') AS effective_to,
       |  (to_ts IS NULL) AS is_current
       |FROM s ORDER BY user_id, grp""".stripMargin

  /** Apply a CDC changelog to produce the latest snapshot: last
    * operation per key wins (event time, event_id tiebreak); a trailing
    * delete removes the key. The changelog is derived deterministically
    * from the event stream (`signup`→I, `error`→D, rest→U) so the
    * oracle can replay it.
    *
    * One shuffle: the keep-last row_number and the per-key op count
    * share the `key` partitioning. This is the bounded-state batch twin
    * of a streaming dedup/`snapshot_upsert` — at scale the
    * changelog is the small delta and the snapshot join (see
    * [[Maintenance.upsert]]) is the expensive half; here we exercise
    * the keep-last collapse itself.
    */
  def cdcApply(events: DataFrame): DataFrame = {
    val log = events.select(col("user_id"),
      when(col("event_type") === "error", "D")
        .when(col("event_type") === "signup", "I")
        .otherwise("U").as("op"),
      col("value"), col("ts"), col("event_id"))
    val byKey = Window.partitionBy("user_id")
    val w = byKey.orderBy(col("ts").desc, col("event_id").desc)
    log
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(byKey))
      .where(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        // per-row double, no accumulation → order-free, no decimal detour
        col("value").as("last_value"),
        date_format(col("ts"), TsFmt).as("updated_at"),
        col("n_ops"))
      .orderBy("user_id")
  }

  val cdcApplySql: String =
    s"""WITH log AS (SELECT user_id,
       |  CASE WHEN event_type = 'error' THEN 'D'
       |       WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
       |  value, ts, event_id FROM events),
       |r AS (SELECT *,
       |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
       |  count(*) OVER (PARTITION BY user_id) AS n_ops
       |  FROM log)
       |SELECT user_id, op AS last_op, value AS last_value,
       |  strftime(ts, '$DuckTsFmt') AS updated_at,
       |  n_ops::BIGINT AS n_ops
       |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin

  /** Interval-overlap rollup without a join: each order is active for
    * 30 days from its order date; count (and value-sum) the orders in
    * flight per calendar month. Rather than a range join against a
    * month spine (non-equi → nested loop, or a banded join), each
    * bounded-span interval EXPLODES into the months it covers
    * (`sequence` + `explode` — at most 2-3 rows per order) and the
    * rollup is a plain hash aggregate: no join at all, linear in the
    * input, and the per-order fan-out is bounded by span/granularity.
    * This is the scale path for any bounded-length interval overlap;
    * unbounded spans would cap the explode and fall back to a banded
    * join (see [[Relational.valueBandCounts]]).
    */
  def ordersInFlightByMonth(orders: DataFrame): DataFrame =
    orders
      .select(col("o_totalprice"), explode(expr(
        """sequence(date_trunc('month', o_orderdate),
          |  date_trunc('month', o_orderdate + INTERVAL 30 DAYS),
          |  interval 1 month)""".stripMargin)).as("m"))
      .groupBy(date_format(col("m"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("open_orders"),
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("open_value"))
      .orderBy("month")

  val ordersInFlightByMonthSql: String =
    """WITH m AS (SELECT o_totalprice,
      |  unnest(generate_series(date_trunc('month', o_orderdate),
      |    date_trunc('month', o_orderdate + INTERVAL 30 DAY),
      |    INTERVAL 1 MONTH)) AS m
      |  FROM orders)
      |SELECT strftime(m, '%Y-%m') AS month, count(*) AS open_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS open_value
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
}
