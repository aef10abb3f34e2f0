package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-maintenance operations for a store without a lakehouse
  * format: plain Spark has no `MERGE INTO`, but the upsert a metrics
  * or corpus snapshot needs is expressible as one anti-join —
  * `updates ∪ (base ⟕̸ updates)` (take every update row; keep base rows
  * whose key has no update). Writing the result as a new snapshot
  * directory and flipping a pointer gives atomic replace; at scale the
  * anti-join broadcasts when the update batch is small (the common
  * case: deltas are tiny next to the store) and AQE decides otherwise
  * when it is not.
  */
object Maintenance {

  /** MERGE-shaped upsert: rows of `updates` win on key collision,
    * unmatched `base` rows survive, new keys insert. Column sets must
    * match (`unionByName`). One anti-join, no full-outer coalesce of
    * every column. */
  def upsert(base: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame =
    updates.unionByName(base.join(updates.select(keys.map(col): _*),
      keys, "left_anti"))

  /** Oracle-checked MERGE demo over `orders`: a deterministic delta
    * batch (every 7th key re-prioritized = UPDATE; every 1000th key
    * mirrored to a negative key = INSERT) merged into the snapshot,
    * then summarized per priority. Exercises both MERGE arms plus the
    * untouched-survivor path in one result. */
  def snapshotUpsert(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice"))
    val upd = o.where(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderpriority", lit("X-UPSERTED"))
      .unionByName(o.where(col("o_orderkey") % 1000 === 0)
        .withColumn("o_orderkey", -col("o_orderkey"))
        .withColumn("o_orderpriority", lit("X-NEW")))
    upsert(o, upd, Seq("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")
          .as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Incremental maintenance of an algebraic aggregate snapshot: merge
    * a new delta batch's partial aggregate into the stored snapshot —
    * `groupBy(keys).sum` over `snapshot ∪ deltaAgg`. Because the
    * aggregate is algebraic (count/sum), folding batch after batch is
    * EXACTLY the one-shot aggregate of the full input — the batch twin
    * of the streaming update-mode store (and of the reference's INCRBY
    * merges): a 100 TB metrics store is maintained by aggregating only
    * each day's arrivals, never recomputing history. The merge shuffles
    * snapshot + delta aggregate rows (both already key-domain-sized,
    * report-scale), not events. */
  def mergeCounts(snapshot: DataFrame, deltaAgg: DataFrame,
      keys: Seq[String], valueCol: String): DataFrame =
    snapshot.unionByName(deltaAgg)
      .groupBy(keys.map(col): _*)
      .agg(sum(valueCol).as(valueCol))

  /** CDC extraction between two snapshots of a keyed table — the
    * inverse of [[upsert]] / [[Changes.cdcApply]]: one row per key
    * whose state changed, tagged `I` (new key), `U` (any compared
    * column differs, null-safely), `D` (key gone), with the old and
    * new value of every compared column side by side.
    *
    * One full-outer sort-merge join on the key; each side shuffles
    * once. At 100 TB the snapshots would be written bucketed on the
    * key, making this diff shuffle-free — and when the new snapshot
    * was itself produced from a delta, diff the delta instead (this
    * operator is the reconciliation path when no changelog exists).
    * Presence is tracked with marker literals, not key-null checks, so
    * null-keyed rows diff correctly too. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    def side(df: DataFrame, kp: String, vp: String, marker: String) =
      df.select(keys.map(k => col(k).as(s"$kp$k")) ++
        compareCols.map(c => col(c).as(s"$vp$c")) :+
        lit(1).as(marker): _*)
    val o = side(oldSnap, "_ok_", "old_", "_old_present")
    val n = side(newSnap, "_nk_", "new_", "_new_present")
    val onKeys = keys.map(k => col(s"_ok_$k") <=> col(s"_nk_$k"))
      .reduce(_ && _)
    val changed = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c"))).reduce(_ || _)
    o.join(n, onKeys, "full_outer")
      .where(col("_old_present").isNull || col("_new_present").isNull ||
        changed)
      .select(keys.map(k =>
        coalesce(col(s"_nk_$k"), col(s"_ok_$k")).as(k)) ++
        Seq(when(col("_old_present").isNull, "I")
          .when(col("_new_present").isNull, "D")
          .otherwise("U").as("op")) ++
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Oracle-checked diff demo over `orders`: the new snapshot drops
    * every 13th key (D), re-prioritizes every remaining 7th (U), and
    * mirrors every 1000th to a negative key (I); the diff must recover
    * exactly those operations and nothing else. */
  def snapshotDiffOrders(orders: DataFrame): DataFrame = {
    val old = orders.select(col("o_orderkey"), col("o_orderpriority"))
    val neu = old.where(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 7 === 0, lit("X-UPDATED"))
          .otherwise(col("o_orderpriority")))
      .unionByName(old.where(col("o_orderkey") % 1000 === 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          lit("X-NEW").as("o_orderpriority")))
    snapshotDiff(old, neu, Seq("o_orderkey"), Seq("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  val snapshotDiffOrdersSql: String =
    """WITH old AS (SELECT o_orderkey, o_orderpriority FROM orders),
      |neu AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'X-UPDATED'
      |         ELSE o_orderpriority END AS o_orderpriority
      |  FROM old WHERE o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT -o_orderkey, 'X-NEW' FROM old WHERE o_orderkey % 1000 = 0)
      |SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
      |  CASE WHEN o.o_orderkey IS NULL THEN 'I'
      |       WHEN n.o_orderkey IS NULL THEN 'D' ELSE 'U' END AS op,
      |  o.o_orderpriority AS old_o_orderpriority,
      |  n.o_orderpriority AS new_o_orderpriority
      |FROM old o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey
      |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
      |   OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
      |ORDER BY 1""".stripMargin

  /** Column profiling — the data-quality gate a pipeline runs on every
    * ingested table: per column, null count, distinct count, and
    * stringified min/max. One wide aggregate computes every column's
    * stats in a single scan pass (all counts are algebraic; the
    * distincts are two-phase); the stack to long form is a per-row
    * reshape of the single result row. */
  /** Profiled columns with their min/max render expression: doubles go
    * through a DECIMAL cast because bare double→string formatting
    * diverges across engines (Java prints 1.0E7, DuckDB 10000000.0);
    * DECIMAL renders canonically in both. */
  private val ProfileCols: Seq[(String, String)] = Seq(
    "o_orderkey" -> "o_orderkey",
    "o_custkey" -> "o_custkey",
    "o_orderpriority" -> "o_orderpriority",
    "o_totalprice" -> "CAST(o_totalprice AS DECIMAL(18,2))")

  def tableProfile(orders: DataFrame): DataFrame =
    // one aggregate branch per column, unioned: each branch's parquet
    // scan prunes to its single column and plans a plain two-phase
    // distinct — a single wide aggregate with N distincts would
    // instead Expand every row N+1 times (measured 2.5x slower here)
    ProfileCols.map { case (c, rend) =>
      orders.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        expr(s"CAST(min($rend) AS STRING)").as("min_s"),
        expr(s"CAST(max($rend) AS STRING)").as("max_s"))
        .select(col("n_rows"), lit(c).as("column_name"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ unionByName _).orderBy("column_name")

  val tableProfileSql: String =
    ProfileCols.map { case (c, rend) =>
      s"""SELECT (SELECT count(*) FROM orders) AS n_rows, '$c' AS column_name,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($rend) AS VARCHAR) AS min_s,
         |  CAST(max($rend) AS VARCHAR) AS max_s
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY column_name"

  /** Z-order (Morton) layout: append a `__z` column interleaving the
    * min/max-scaled codes of `cols` via the codegen'd
    * [[graft.functions.ZValue zvalue]] expression. Range-partitioning +
    * sorting by `__z` clusters rows close in EVERY dimension into the
    * same files/row-groups, so parquet min/max footer statistics prune
    * multi-dimensional range scans — the layout half of data skipping
    * (Delta/Iceberg `OPTIMIZE ZORDER BY` semantics, on plain parquet).
    *
    * The min/max pass is one aggregate collecting a single driver row
    * (2·n doubles — legitimate at any scale); scaling + interleave are
    * scan-side codegen. Min/max scaling is the simple variant: heavy
    * skew wants rank-based codes (range-boundary sampling) — at that
    * point reuse `repartitionByRange` on the raw column instead. Nulls
    * propagate to a null z (they sort together, first). */
  def zorderLayout(df: DataFrame, cols: Seq[String],
      bits: Int = 16): DataFrame = {
    require(cols.nonEmpty && cols.size * bits <= 63,
      s"need 1 <= n cols and n*bits <= 63, got n=${cols.size} bits=$bits")
    graft.functions.Registry.ensure(df.sparkSession)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    val maxCode = (1L << bits) - 1
    val codes = cols.zipWithIndex.map { case (c, k) =>
      val lo = mm.getDouble(2 * k)
      val hi = mm.getDouble(2 * k + 1)
      val raw =
        if (hi == lo) lit(0L)
        else floor((col(c).cast("double") - lit(lo)) * lit(maxCode.toDouble) /
          lit(hi - lo)).cast("long")
      least(greatest(raw, lit(0L)), lit(maxCode)).as(s"__code_$k")
    }
    val withCodes = df.select(df.columns.map(col) ++ codes: _*)
    withCodes.withColumn("__z", expr(
      s"zvalue($bits, ${cols.indices.map(k => s"__code_$k").mkString(", ")})"))
      .drop(cols.indices.map(k => s"__code_$k"): _*)
  }

  /** Oracle-checked face of the z-value computation over `events`
    * (user_id × value, 16 bits each): scaled codes plus the interleaved
    * z — pins the codegen'd expression and the scaling arithmetic
    * against an independent engine. */
  def zorderValue(events: DataFrame, bits: Int = 16): DataFrame =
    zorderLayout(events, Seq("user_id", "value"), bits)
      .select(col("event_id"), col("__z").as("zval"))
      .orderBy("event_id")

  def zorderValueSql(bits: Int = 16): String = {
    val maxCode = (1L << bits) - 1
    def code(v: String, lo: String, hi: String) =
      s"""CAST(least(greatest(CASE WHEN $hi = $lo THEN 0
         |    ELSE CAST(floor(((CAST($v AS DOUBLE) - $lo) * $maxCode.0)
         |      / ($hi - $lo)) AS BIGINT) END, 0), $maxCode) AS BIGINT)""".stripMargin
    s"""WITH mm AS (
       |  SELECT CAST(min(user_id) AS DOUBLE) AS lo_u,
       |    CAST(max(user_id) AS DOUBLE) AS hi_u,
       |    CAST(min(value) AS DOUBLE) AS lo_v,
       |    CAST(max(value) AS DOUBLE) AS hi_v
       |  FROM events),
       |c AS (
       |  SELECT event_id,
       |    ${code("user_id", "lo_u", "hi_u")} AS c0,
       |    ${code("value", "lo_v", "hi_v")} AS c1
       |  FROM events CROSS JOIN mm)
       |SELECT event_id,
       |  CAST(list_sum(list_transform(range(0, $bits), i ->
       |    (((c0 >> i) & 1) << (2 * i)) + (((c1 >> i) & 1) << (2 * i + 1))
       |  )) AS BIGINT) AS zval
       |FROM c ORDER BY event_id""".stripMargin
  }

  val snapshotUpsertSql: String =
    """WITH upd AS (
      |  SELECT o_orderkey, 'X-UPSERTED' AS o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT -o_orderkey, 'X-NEW', o_totalprice
      |  FROM orders WHERE o_orderkey % 1000 = 0),
      |merged AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin
}
