package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Q._

/** X138 — event-time out-of-orderness / watermark audit: for each
  * event, its lateness against the maximum event time already seen in
  * ARRIVAL order (event_id — the feed's monotone arrival proxy, the
  * same convention the X71 source uses). This is the
  * measurement that makes a watermark choice honest: Structured
  * Streaming's `withWatermark(delay)` silently DROPS rows later than
  * the delay, so you pick the delay from this profile (p99/max
  * lateness per type), not from folklore. The reference hardcodes a
  * 1-minute watermark in its consumer — this operator is how that
  * number gets audited against the feed.
  *
  * Shape: ONE arrival-ordered running-max window per event type (the
  * corpus shuffles once on event_type; within a type the window is the
  * per-partition sequential pass) and a map-side bucket/percentile
  * aggregate to the |types| frame. At 100 TB the running max over a
  * single arrival order is the two-level prefix recipe (q149) — same
  * semantics; the per-type profile frame never exceeds |types| rows.
  *
  * Determinism: event times and lateness are exact integer µs;
  * percentiles are the exact interpolated form (q139/q145 parity);
  * the late-share is the q111 micro-unit render.
  */
object LatenessAudit {

  /** Lateness rows: (event_type, lateness_us ≥ 0) per event. */
  def lateness(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.select(col("event_type"), col("event_id"),
      expr("unix_micros(ts)").as("us"))
      .withColumn("hwm", max(col("us")).over(w))
      .select(col("event_type"),
        greatest(col("hwm") - col("us"), lit(0L)).as("late_us"))
  }

  /** q179 — per-type out-of-orderness profile: the watermark chooser. */
  val q179 = GraftQuery(
    "q179_lateness_audit", {
      (s, d) => {
        lateness(t(s, d, "events"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("late_us") > 0, 1L).otherwise(0L))
              .as("n_late"),
            expr("percentile(late_us, 0.5)").as("p50_late_us"),
            expr("percentile(late_us, 0.99)").as("p99_late_us"),
            max(col("late_us")).as("max_late_us"),
            // share of events a 1-minute watermark would DROP
            sum(when(col("late_us") > 60000000L, 1L).otherwise(0L))
              .as("n_beyond_1m"))
          .withColumn("late_share_r",
            expr("cast((2000000 * n_late + n) div (2 * n) as double)" +
              " / 1e6"))
          .orderBy(col("event_type"))
      }
    },
    Some("""
      WITH lat AS (
        SELECT event_type,
               GREATEST(COALESCE(MAX(epoch_us(ts)) OVER
                 (PARTITION BY event_type ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 - epoch_us(ts), 0) AS late_us
        FROM events),
      prof AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_late,
               quantile_cont(late_us, 0.5) AS p50_late_us,
               quantile_cont(late_us, 0.99) AS p99_late_us,
               MAX(late_us) AS max_late_us,
               CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_beyond_1m
        FROM lat GROUP BY 1)
      SELECT event_type, n, n_late, p50_late_us, p99_late_us,
             max_late_us, n_beyond_1m,
             CAST((2000000 * n_late + n) // (2 * n) AS DOUBLE) / 1e6
               AS late_share_r
      FROM prof
      ORDER BY event_type
    """))

  val all: Seq[GraftQuery] = Seq(q179)
}
