package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Q._

/** X219 — Cramér's V association strength (Cramér 1946):
  * V = √(χ² / (N·(min(r,c) − 1))) — the [0, 1] EFFECT SIZE on top of
  * X117's χ² independence test, comparable ACROSS factor pairs where
  * raw χ² is not (it grows with N and table size; a dashboard ranking
  * "which factor pairs are most entangled" needs the normalized
  * number). One row per audited factor pair, here the order-flow pair
  * (priority × status) and the seasonality pair (event type ×
  * day-of-week) — X217's banded-effect-size idea applied to the
  * categorical tier.
  *
  * Determinism: the q162 grid ([[ChiSquareDrift.cellGrid]]) — exact
  * integer cells (zero cells included via the cross join), per-cell
  * deviation one shared double tree, the cross-cell χ² sum as
  * DECIMAL(30,14) (associative), then V is one sqrt over (χ², N,
  * min(r,c)) leaves.
  * Degenerate tables (min(r,c) = 1) → NULL V.
  *
  * Scale shape: per pair, one map-side groupBy to the |A|·|B| cell
  * frame; margins and V on that dimension frame. Corpus touched once
  * per audited pair.
  */
object CramersV {

  /** One-row V summary of the association between columns `a` and `b`
    * of `pairs` (one row per observation).
    */
  private[operators] def v(pairs: DataFrame, label: String): DataFrame = {
    ChiSquareDrift.cellGrid(pairs, "a", "b")
      .agg(
        max(col("n")).as("n"),
        countDistinct(col("a")).as("r"),
        countDistinct(col("b")).as("c"),
        sum(col("dev").cast("decimal(30,14)")).cast("double")
          .as("chi2"))
      .withColumn("mindim", least(col("r"), col("c")) - 1L)
      .select(lit(label).as("pair"), col("n"), col("r"), col("c"),
        round(col("chi2"), 6).as("chi2_r"),
        when(col("mindim") > 0L,
          round(sqrt(col("chi2") /
            (col("n").cast("double") * col("mindim").cast("double"))),
            6)).as("v"))
  }

  /** The shared SQL body of [[v]] over a `(a, b)` observation CTE
    * named `obs_rel`.
    */
  private def vSql(obsRel: String, label: String): String = s"""
      SELECT '$label' AS pair, n, r, c, round(chi2, 6) AS chi2_r,
             CASE WHEN LEAST(r, c) - 1 > 0 THEN
               round(sqrt(chi2 / (CAST(n AS DOUBLE)
                 * CAST(LEAST(r, c) - 1 AS DOUBLE))), 6) END AS v
      FROM (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
               CAST(SUM(CAST(
                 (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE)
                    * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE)
                    * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 AS DECIMAL(30,14))) AS DOUBLE) AS chi2
        FROM (
          SELECT a, b, obs,
                 SUM(obs) OVER (PARTITION BY a) AS rt,
                 SUM(obs) OVER (PARTITION BY b) AS ct,
                 SUM(obs) OVER () AS n
          FROM (
            SELECT ga.a AS a, gb.b AS b,
                   CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs
            FROM (SELECT DISTINCT a FROM $obsRel) ga
            CROSS JOIN (SELECT DISTINCT b FROM $obsRel) gb
            LEFT JOIN (SELECT a, b, COUNT(*) AS obs
                       FROM $obsRel GROUP BY 1, 2) o
              ON o.a = ga.a AND o.b = gb.b
          ) c
        ) m
      ) f"""

  /** q252 — V for (priority × status) and (event type × weekday). */
  val q252 = GraftQuery(
    "q252_cramers_v", {
      (s, d) => {
        val ordersPair = t(s, d, "orders")
          .select(col("o_orderpriority").as("a"),
            col("o_orderstatus").as("b"))
        // dow = epoch-day mod 7 (dow 0 = Thursday) — the q238/X203
        // convention: the engines' dayofweek() builtins disagree on
        // origin and range, so neither is used
        val eventsPair = t(s, d, "events")
          .select(col("event_type").as("a"),
            pmod(epochDay(col("ts")), lit(7L)).cast("string").as("b"))
        v(ordersPair, "priority_x_status")
          .unionByName(v(eventsPair, "type_x_dow"))
          .orderBy(col("pair"))
      }
    },
    Some(s"""
      WITH ord_obs AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b FROM orders),
      ev_obs AS (
        SELECT event_type AS a,
               CAST((CAST(epoch(date_trunc('day', ts)) AS BIGINT)
                 // 86400) % 7 AS VARCHAR) AS b FROM events)
      ${vSql("ord_obs", "priority_x_status")}
      UNION ALL
      ${vSql("ev_obs", "type_x_dow")}
      ORDER BY pair
    """))

  val all: Seq[GraftQuery] = Seq(q252)
}
