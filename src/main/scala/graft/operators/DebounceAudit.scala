package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Q._

/** X179 — telemetry debounce audit (the event-stream duplicate census:
  * double-clicks, SDK retries, at-least-once producers): an event is a
  * BOUNCE if the same user emitted the same event type within
  * [[WindowSec]] seconds BEFORE it — the lag-chain contract (each
  * event compares to its immediate same-key predecessor, so a burst of
  * k rapid-fire events counts k−1 bounces even if the burst outlasts
  * the window; stated — this is the debounce semantics, distinct from
  * a fixed-anchor collapse). The ops-facing sibling of X7's exact
  * content dedup: X7 asks "is this row a byte-copy", this asks "is
  * this row a rapid-fire repeat", the duplicate class produced by
  * retries rather than replays.
  *
  * Per event type: events, bounces, bounce rate (one double division
  * of exact longs), affected users, and the worst user's bounce count
  * (ties by user id) — the triage columns an SDK-regression hunt
  * starts from.
  *
  * Scale shape: ONE (user, type)-partitioned lag window (the
  * exchange every per-user session query shares), then map-side
  * groupBys to the |types| frame; the worst-user pick is a window on
  * the |users × types| bounce frame.
  */
object DebounceAudit {

  val WindowSec = 5L

  /** Bounce census over an (user_id, ts, event_id, event_type) frame. */
  def audit(events: DataFrame): DataFrame = {
    val byKey = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    // Integer-microsecond gap test: exact on both engines, with no
    // float rounding at the 5 s boundary.
    val flagged = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("bounce",
        when(col("us") - lag(col("us"), 1).over(byKey)
          <= WindowSec * 1000000L, 1L).otherwise(0L))
    val perUser = flagged
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("bounce")).as("b"))
    perUser
      .withColumn("worst_rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("b").desc, col("user_id"))))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("b")).as("n_bounces"),
        sum(when(col("b") > 0, 1L).otherwise(0L)).as("affected_users"),
        max(when(col("worst_rk") === 1, col("user_id")))
          .as("worst_user"),
        max(when(col("worst_rk") === 1, col("b"))).as("worst_bounces"))
      .withColumn("bounce_rate",
        col("n_bounces").cast("double") / col("n_events").cast("double"))
      .orderBy(col("event_type"))
  }

  /** q217 — the per-type bounce census over events. */
  val q217 = GraftQuery(
    "q217_debounce_audit",
    (s, d) => audit(t(s, d, "events")),
    Some(s"""
      WITH flagged AS (
        SELECT event_type, user_id,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w)
                      <= ${WindowSec * 1000000L}
                    THEN 1 ELSE 0 END AS bounce
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)),
      per_user AS (
        SELECT event_type, user_id, COUNT(*) AS n,
               CAST(SUM(bounce) AS BIGINT) AS b
        FROM flagged GROUP BY 1, 2),
      ranked AS (
        SELECT event_type, user_id, n, b,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY b DESC, user_id) AS worst_rk
        FROM per_user)
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n_events,
             CAST(SUM(b) AS BIGINT) AS n_bounces,
             CAST(SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS affected_users,
             MAX(CASE WHEN worst_rk = 1 THEN user_id END) AS worst_user,
             MAX(CASE WHEN worst_rk = 1 THEN b END) AS worst_bounces,
             CAST(SUM(b) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
               AS bounce_rate
      FROM ranked
      GROUP BY event_type
      ORDER BY event_type
    """))

  val all: Seq[GraftQuery] = Seq(q217)
}
