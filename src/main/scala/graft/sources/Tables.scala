package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.LogEvent

/** Batch sources: the driver-generated parquet tables plus the
  * normalization of the generic `events` table onto the reference's
  * `LogEvent` model (see FIXTURES.md §2 mapping).
  *
  * All readers are plain `spark.read.parquet` so Catalyst gets full
  * predicate pushdown / column pruning / vectorized scans; at cluster
  * scale the same call works on a partitioned directory tree unchanged.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events table stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects outright. Read it as a raw
    * nanos long (legacy conf) and floor-truncate to microseconds —
    * exactly what DuckDB does when it reads the same column, so oracle
    * comparisons see identical values. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // Parquet timestamps without the isAdjustedToUTC flag arrive as
      // TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ, where
      // CAST(ts AS BIGINT) is an analysis error. The session timezone is
      // pinned to UTC everywhere (builder config), so NTZ -> TIMESTAMP is
      // a no-op reinterpretation that matches DuckDB's epoch() reading of
      // the same naive values.
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")

  /** The `events` table viewed as the reference's click-stream
    * (FIXTURES.md §2): user_id → uid, event_type → variant,
    * props.$.k → experiment_id, ts → event time.
    *
    * `get_json_object` mirrors the reference's Jackson JSON field
    * extraction (reference: ParseMessageAsLogElement.java:44-49).
    *
    * `fanOut = true` repartitions the raw scan to all cores BEFORE the
    * JSON extraction — the driver's events table is one small parquet
    * file (one input split), so without it the per-row JSON work runs
    * on a single task. The repartition is CONDITIONED on the scan
    * actually arriving under-split (fewer partitions than half the
    * core count): on a real cluster the scan arrives pre-split and the
    * fan-out self-disables instead of shuffling the whole table.
    */
  def logEvents(spark: SparkSession, sfDir: String,
      fanOut: Boolean = false): DataFrame = {
    val raw = events(spark, sfDir)
    val src = if (fanOut && underSplit(raw))
      raw.repartition(spark.sparkContext.defaultParallelism) else raw
    src.select(
      col("user_id").cast("string").as(LogEvent.Uid),
      get_json_object(col("props"), "$.k").as(LogEvent.ExperimentId),
      col("event_type").as(LogEvent.Variant),
      col("ts").as(LogEvent.Ts))
  }

  /** True when `df`'s planned scan arrives on fewer partitions than
    * half the cores — the fan-out predicate of [[logEvents]] and
    * `SparkEntry.par`: repartitioning pays only for under-split local
    * fixtures, never for a pre-split cluster scan. `.rdd` plans the
    * frame (file listing) but runs no job. */
  private[graft] def underSplit(df: DataFrame): Boolean =
    df.rdd.getNumPartitions <
      df.sparkSession.sparkContext.defaultParallelism / 2

  /** P1 — parse a raw JSON click-stream (`Dataset[String]`-shaped
    * DataFrame with a `value` column) into typed LogEvent rows,
    * silently dropping malformed records, exactly like the reference's
    * parse DoFn (reference: ParseMessageAsLogElement.java:31-50, drop
    * at :39-41 — malformed JSON is logged and skipped, no dead-letter).
    *
    * `from_json` returns null for unparseable rows; we additionally
    * require a parseable timestamp (the reference's Joda parse throws →
    * drop), converted from the wire's ISO string via `try_cast` — the
    * hand-rolled ISO scanner, not the DateTimeFormatter path, so the
    * hot loop stays cheap. Works identically on batch and streaming
    * DataFrames.
    */
  def parseJsonEvents(raw: DataFrame): DataFrame = {
    raw
      .select(from_json(col("value"), LogEvent.jsonSchema).as("e"))
      .select(
        col("e.uid").as(LogEvent.Uid),
        col("e.experiment_id").as(LogEvent.ExperimentId),
        col("e.variant").as(LogEvent.Variant),
        expr("try_cast(e.timestamp AS timestamp)").as(LogEvent.Ts))
      .where(col(LogEvent.Ts).isNotNull && col(LogEvent.Uid).isNotNull)
  }
}
