package graft.streaming

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

/** The dashboard's READ face — the five query shapes the reference's
  * controller issues against Redis (MGET / PFCOUNT / SCARD /
  * SINTERSTORE+SCARD, dashboard/.../TimeseriesMetricsController.java:45-136),
  * as a trait so the serving layer points at EITHER the in-memory
  * [[MetricsStore]] or a live Redis via
  * [[graft.store.RedisMetricsSink]] — completing the reference
  * topology end-to-end: Spark writes the store, the dashboard reads it,
  * and neither side knows which store it is.
  */
trait MetricsReader {
  /** Counter read (Redis GET, nil→0). */
  def counter(key: String): Long
  /** Exact set cardinality (Redis SCARD). */
  def scard(key: String): Long
  /** Approx-distinct estimate (Redis PFCOUNT). In-memory stores serve
    * whatever their [[KeyValueMetricsSink.pfadd]] fake keeps; stores
    * fed a materialized estimate via `put` serve that. */
  def hllCount(key: String): Long
  /** Pairwise exact set intersection over a key family
    * (SINTERSTORE+SCARD per unordered pair, controller :109-136);
    * returned dimension names have `prefix` stripped. */
  def overlap(prefix: String): Seq[(String, String, Long)]
  /** No store overrides this and no endpoint serves it: it remains only
    * as the hook that perfbench's harness (`TimedStore`) forwards. */
  def overlapApprox(prefix: String): Seq[(String, String, Long)] = Nil

  /** Q1–Q3 read shape: the `lastMinutes` closed minutes before
    * `nowMinute`, recent-first, each read from `{prefix}_{minute key}`
    * with `read` — [[counter]] (GET), [[scard]] (SCARD) or [[hllCount]]
    * (PFCOUNT), one store call per minute; an absent key reads 0
    * (TimeseriesMetricsController.java:45-107). */
  def timeseries(prefix: String, nowMinute: LocalDateTime, lastMinutes: Int)(
      read: String => Long): Seq[(LocalDateTime, Long)] =
    MetricsReader.closedMinutes(nowMinute, lastMinutes).map { m =>
      m -> read(s"${prefix}_${MetricsReader.MinuteKeyFmt.format(m)}")
    }
}

object MetricsReader {
  /** The minute part of a store key. */
  val MinuteKeyFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy_MM_dd'T'HH_mm")

  /** now-1 … now-N floored to the minute, recent-first (controller
    * `timePatternForLastMinutes`, :144-152). */
  def closedMinutes(now: LocalDateTime, lastMinutes: Int): Seq[LocalDateTime] = {
    val nowM = now.truncatedTo(ChronoUnit.MINUTES)
    (1 to lastMinutes).map(nowM.minusMinutes(_))
  }
}
