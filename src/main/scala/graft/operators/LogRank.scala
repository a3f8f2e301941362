package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X249 — log-rank test (Mantel 1966; Peto & Peto 1972) on
  * time-to-first-purchase between the even/odd user arms, WITH
  * censoring: the survival-curve comparison q236's discrete-time
  * hazard table describes one arm at a time. Users who never purchase
  * are not "no data" — they are right-censored at their last
  * observed hour, and dropping them (what a naive mean-time compare
  * does) biases toward fast converters. The log-rank statistic
  * compares observed vs expected deaths per risk set at every
  * distinct event time: χ² = (O₁−E₁)²/V, df = 1 — the standard A/B
  * gate on conversion-time curves.
  *
  * Determinism: times are exact hour longs per user (min/max
  * aggregates over the event stream); the per-time census (deaths
  * per arm, endpoints per arm) is exact longs; risk sets are
  * suffix counts derived from PREFIX sums through the two-level
  * bucketed swap (shared [[RankSum.prefixSums]], the q269
  * multi-lane pattern — NO single-partition window); each time's
  * E/V term is one double tree and the per-time terms ride
  * DECIMAL(30,14) lanes. Ties: censored-at-t users count at risk AT
  * t (the standard convention). Risk sets of size ≤ 1 contribute 0
  * to V (guarded); V = 0 → NULL χ².
  *
  * Scale shape: one corpus pass → a |users|-row min/max agg → a
  * |distinct times|-row census (bounded by the observation span in
  * hours), materialized eagerly because the totals fold and the
  * bucket swap both consume it (the q240 recompute discipline) →
  * bucket partials + ≤1025-row offsets broadcasts → a 1-row decimal
  * fold. Corpus touched once.
  */
object LogRank {

  /** χ²(0.95, 1). */
  private val Crit = 3.841458820694124d

  /** Per-user (arm, time, event) conversion spans — arm = user
    * parity, event = 1 iff a purchase exists, time measured from
    * first activity, censoring at last activity. Shared with
    * [[KaplanMeier]] (q287) so the A/B test and the curves it gates
    * read the SAME spans.
    */
  def spans(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hour = floor(unix_timestamp(date_trunc("hour", col("ts")))
      / lit(3600.0d)).cast("long")
    events
      .select(pmod(col("user_id"), lit(2L)).as("g"),
        col("user_id"), hour.as("h"), col("event_type"))
      .groupBy(col("g"), col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h_last"),
        min(when(col("event_type") === "purchase", col("h")))
          .as("h_conv"))
      .withColumn("event",
        when(col("h_conv").isNotNull, 1L).otherwise(0L))
      .withColumn("time",
        when(col("h_conv").isNotNull, col("h_conv") - col("h0"))
          .otherwise(col("h_last") - col("h0")))
  }

  /** Eager |distinct times| census of deaths/endpoints per arm. */
  def timeCensus(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.Checkpoints.eager(spans(events)
      .groupBy(col("time").as("v"))
      .agg(sum(when(col("g") === 0L && col("event") === 1L, 1L)
        .otherwise(0L)).as("d0"),
        sum(when(col("g") === 1L && col("event") === 1L, 1L)
          .otherwise(0L)).as("d1"),
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("e0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("e1")))

  /** Census + per-arm risk sets (tot_g − endpoints strictly before v,
    * the two-level bucketed swap) + tot0/tot1/n_deaths columns.
    */
  def withRisk(census: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val totals = census.agg(sum(col("e0")).as("tot0"),
      sum(col("e1")).as("tot1"), sum(col("d0") + col("d1"))
        .as("n_deaths"))
    RankSum.prefixSums(census, col("v").cast("double"),
      Seq(col("e0") -> "pre0", col("e1") -> "pre1"), col("v"))
      .join(broadcast(totals))
      // at risk in arm g at time v: tot_g − endpoints before v
      .withColumn("r0", col("tot0") - col("pre0"))
      .withColumn("r1", col("tot1") - col("pre1"))
  }

  /** q273 — conversion-time curves, even vs odd user ids. */
  val q273 = GraftQuery(
    "q273_logrank_conversion", {
      (s, d) => {
        val risky = withRisk(timeCensus(t(s, d, "events")))
          .filter(col("d0") + col("d1") > 0L)
        val nt = (col("r0") + col("r1")).cast("double")
        val dt = (col("d0") + col("d1")).cast("double")
        risky
          .withColumn("e1t", dt * col("r1").cast("double") / nt)
          .withColumn("vt",
            when(col("r0") + col("r1") > 1L,
              dt * (col("r1").cast("double") / nt) *
                (col("r0").cast("double") / nt) *
                (nt - dt) / (nt - 1.0d)).otherwise(lit(0.0d)))
          .agg(max(col("tot0") + col("tot1")).as("n_users"),
            max(col("n_deaths")).as("n_deaths"),
            sum(col("d1")).as("o1"),
            sum(col("e1t").cast("decimal(30,14)")).cast("double")
              .as("ee1"),
            sum(col("vt").cast("decimal(30,14)")).cast("double")
              .as("vv"))
          .withColumn("chi2",
            when(col("vv") > 0d,
              round((col("o1").cast("double") - col("ee1")) *
                (col("o1").cast("double") - col("ee1")) / col("vv"),
                6)))
          .select(col("n_users"), col("n_deaths"), col("o1"),
            round(col("ee1"), 6).as("e1_r"),
            col("chi2").as("chi2_r"),
            (col("chi2") > Crit).as("curves_differ"))
      }
    },
    Some(s"""
      WITH peruser AS (
        SELECT user_id % 2 AS g, user_id,
               MIN(CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                 // 3600) AS h0,
               MAX(CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                 // 3600) AS h_last,
               MIN(CASE WHEN event_type = 'purchase' THEN
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
               END) AS h_conv
        FROM events GROUP BY 1, 2),
      spans AS (
        SELECT g,
               CASE WHEN h_conv IS NOT NULL THEN 1 ELSE 0 END AS event,
               CASE WHEN h_conv IS NOT NULL THEN h_conv - h0
                 ELSE h_last - h0 END AS v
        FROM peruser),
      census AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 0 AND event = 1 THEN 1 ELSE 0
                 END) AS BIGINT) AS d0,
               CAST(SUM(CASE WHEN g = 1 AND event = 1 THEN 1 ELSE 0
                 END) AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS e0,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS e1
        FROM spans GROUP BY v),
      totals AS (
        SELECT CAST(SUM(e0) AS BIGINT) AS tot0,
               CAST(SUM(e1) AS BIGINT) AS tot1,
               CAST(SUM(d0 + d1) AS BIGINT) AS n_deaths
        FROM census),
      risky AS (
        SELECT c.v, c.d0, c.d1, t.tot0, t.tot1, t.n_deaths,
               t.tot0 - COALESCE(SUM(c.e0) OVER (ORDER BY c.v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS r0,
               t.tot1 - COALESCE(SUM(c.e1) OVER (ORDER BY c.v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS r1
        FROM census c CROSS JOIN totals t),
      folded AS (
        SELECT MAX(tot0 + tot1) AS n_users,
               MAX(n_deaths) AS n_deaths,
               CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM(CAST(
                 CAST(d0 + d1 AS DOUBLE) * CAST(r1 AS DOUBLE)
                   / CAST(r0 + r1 AS DOUBLE)
                 AS DECIMAL(30,14))) AS DOUBLE) AS ee1,
               CAST(SUM(CAST(
                 CASE WHEN r0 + r1 > 1 THEN
                   CAST(d0 + d1 AS DOUBLE)
                     * (CAST(r1 AS DOUBLE) / CAST(r0 + r1 AS DOUBLE))
                     * (CAST(r0 AS DOUBLE) / CAST(r0 + r1 AS DOUBLE))
                     * (CAST(r0 + r1 AS DOUBLE)
                        - CAST(d0 + d1 AS DOUBLE))
                     / (CAST(r0 + r1 AS DOUBLE) - 1.0)
                 ELSE 0.0 END AS DECIMAL(30,14))) AS DOUBLE) AS vv
        FROM risky
        WHERE d0 + d1 > 0)
      SELECT CAST(n_users AS BIGINT) AS n_users, n_deaths, o1,
             round(ee1, 6) AS e1_r,
             CASE WHEN vv > 0 THEN
               round((CAST(o1 AS DOUBLE) - ee1)
                 * (CAST(o1 AS DOUBLE) - ee1) / vv, 6)
             END AS chi2_r,
             CASE WHEN vv > 0 THEN
               round((CAST(o1 AS DOUBLE) - ee1)
                 * (CAST(o1 AS DOUBLE) - ee1) / vv, 6)
             END > $Crit AS curves_differ
      FROM folded
    """))

  val all: Seq[GraftQuery] = Seq(q273)
}
