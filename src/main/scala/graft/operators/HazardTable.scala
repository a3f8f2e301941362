package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Q._

/** X200 — discrete-time survival table for repeat-purchase timing
  * (the actuarial life table, Cutler–Ederer 1958; the discrete-time
  * hazard reading follows Singer & Willett 1993): for each week-bin k
  * since an order, how many customer-order intervals were still "at
  * risk" entering week k, how many CONVERTED (next order landed in
  * week k), how many were CENSORED there (observation window ended
  * before a next order) — and the discrete hazard d_k / n_k, the
  * per-week conversion probability GIVEN survival so far. The
  * censoring-aware upgrade of X46's naive conversion-lag histogram: a
  * lag histogram over observed gaps only is biased low at the tail
  * (long gaps are exactly the ones the window truncates); the life
  * table charges those truncated intervals to the at-risk
  * denominator up to their censor week, which is the whole point of
  * the construction.
  *
  * Every interval between a customer's consecutive orders is an EVENT
  * observation at week (gap days) div 7; each customer's LAST order
  * opens a censored interval ending at the table-wide max order date
  * (the observation horizon — stated). Counts are exact longs;
  * survival curves are left to the reader because a cumulative
  * product of doubles has no cross-engine bit contract (stated — the
  * hazard column carries the same information losslessly).
  *
  * Scale shape: ONE customer-partitioned lead window (the exchange
  * every per-customer query shares), a broadcast 1-row horizon join
  * (the house scalar pattern), one map-side groupBy to the |weeks|
  * frame, and one |weeks|-frame window for the reverse-cumulative
  * at-risk count. Scan-bound.
  */
object HazardTable {

  /** Life-table tail: a (week, d_events, c_censored) frame → the
    * at-risk recursion + hazard columns (one |weeks|-frame window).
    */
  def lifeTable(byWeek: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val atRisk = Window.orderBy(col("week"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    byWeek
      .withColumn("n_risk",
        sum(col("d_events") + col("c_censored")).over(atRisk))
      .withColumn("hazard",
        col("d_events").cast("double") / col("n_risk").cast("double"))
      .select(col("week"), col("n_risk"), col("d_events"),
        col("c_censored"), col("hazard"))
      .orderBy(col("week"))
  }

  /** q236 — weekly discrete hazard of the next purchase. */
  val q236 = GraftQuery(
    "q236_hazard_table", {
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val orders = t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"))
        val horizon = orders.agg(max(col("o_orderdate")).as("h_end"))
        val intervals = orders
          .withColumn("nxt", lead(col("o_orderdate"), 1).over(w))
          .join(broadcast(horizon))
          .select(
            when(col("nxt").isNotNull,
              expr("datediff(nxt, o_orderdate) div 7"))
              .otherwise(expr("datediff(h_end, o_orderdate) div 7"))
              .cast("long").as("week"),
            when(col("nxt").isNotNull, 1L).otherwise(0L).as("event"))
        val byWeek = intervals.groupBy(col("week"))
          .agg(sum(col("event")).as("d_events"),
            sum(lit(1L) - col("event")).as("c_censored"))
        lifeTable(byWeek)
      }
    },
    Some("""
      WITH ordered AS (
        SELECT o_custkey, o_orderdate,
               LEAD(o_orderdate, 1) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS nxt
        FROM orders),
      horizon AS (SELECT MAX(o_orderdate) AS h_end FROM orders),
      intervals AS (
        SELECT CASE WHEN nxt IS NOT NULL
                 THEN date_diff('day', o_orderdate, nxt) // 7
                 ELSE date_diff('day', o_orderdate, h_end) // 7
               END AS week,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM ordered, horizon),
      by_week AS (
        SELECT CAST(week AS BIGINT) AS week,
               CAST(SUM(event) AS BIGINT) AS d_events,
               CAST(SUM(1 - event) AS BIGINT) AS c_censored
        FROM intervals GROUP BY 1)
      SELECT week,
             CAST(SUM(d_events + c_censored) OVER (ORDER BY week
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk,
             d_events, c_censored,
             CAST(d_events AS DOUBLE)
               / CAST(SUM(d_events + c_censored) OVER (ORDER BY week
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS DOUBLE) AS hazard
      FROM by_week
      ORDER BY week
    """))

  val all: Seq[GraftQuery] = Seq(q236)
}
