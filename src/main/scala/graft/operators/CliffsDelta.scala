package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X217 — Cliff's delta ordinal effect size (Cliff 1993) between the
  * two experiment arms' metric distributions:
  *   δ = (#(a > b) − #(a < b)) / (n_a·n_b)
  * over all cross-arm pairs — the EFFECT-SIZE companion the A/B tier
  * was missing: q149's rank-sum z says whether arms differ, but a z
  * on a big N is significant at trivial effect; δ says by HOW MUCH
  * one arm stochastically dominates, scale-free and heavy-tail-robust
  * (the standard pairing in any A/B readout). Banded with the Romano
  * et al. 2006 thresholds (0.147 / 0.33 / 0.474).
  *
  * Determinism: the n_a·n_b pair counts are computed WITHOUT the pair
  * face — per distinct value, arm-B counts below/at/above come from
  * the prefix sum, so gt/lt/eq are exact longs (products < 2^63); δ
  * is one double division.
  *
  * Scale shape: the classic O(n²) definition is rewritten as a
  * |distinct values| problem: one groupBy to the per-value frame, the
  * q149 two-level bucketed prefix sum ([[RankSum.prefixSums]]) for
  * the arm-B cumulative — no global single-partition window, no pair
  * join, corpus touched once.
  */
object CliffsDelta {

  /** q250 — Cliff's δ of events.value between arms user_id % 2. */
  val q250 = GraftQuery(
    "q250_cliffs_delta", {
      (s, d) => {
        val byVal = RankSum.armCensus(t(s, d, "events"))
        // cum = arm-B count strictly below v
        val ranked = RankSum.prefixSums(byVal, col("v"),
          Seq(col("tb") -> "cum"), col("v"))
        val nb = byVal.agg(sum(col("tb")).as("n_b"))
        ranked.join(broadcast(nb))
          .agg(sum(col("ta")).as("n_a"), max(col("n_b")).as("n_b"),
            sum(col("ta") * col("cum")).as("n_gt"),
            sum(col("ta") * (col("n_b") - col("cum") - col("tb")))
              .as("n_lt"),
            sum(col("ta") * col("tb")).as("n_eq"))
          .withColumn("delta",
            when(col("n_a") > 0L && col("n_b") > 0L,
              round((col("n_gt") - col("n_lt")).cast("double") /
                (col("n_a").cast("double") * col("n_b").cast("double")),
                6)))
          .withColumn("magnitude",
            when(col("delta").isNull, lit(null).cast("string"))
              .when(abs(col("delta")) < 0.147d, "negligible")
              .when(abs(col("delta")) < 0.33d, "small")
              .when(abs(col("delta")) < 0.474d, "medium")
              .otherwise("large"))
      }
    },
    Some("""
      WITH ev AS (
        SELECT value AS v, user_id % 2 AS grp FROM events),
      byval AS (
        SELECT v,
               SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS t
        FROM ev GROUP BY v),
      ranked AS (
        SELECT ca, t,
               COALESCE(SUM(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum
        FROM byval),
      nb AS (SELECT SUM(t) AS n_b FROM byval),
      agg AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(MAX(n_b) AS BIGINT) AS n_b,
               CAST(SUM(ca * cum) AS BIGINT) AS n_gt,
               CAST(SUM(ca * (n_b - cum - t)) AS BIGINT) AS n_lt,
               CAST(SUM(ca * t) AS BIGINT) AS n_eq
        FROM ranked CROSS JOIN nb)
      SELECT n_a, n_b, n_gt, n_lt, n_eq,
             CASE WHEN n_a > 0 AND n_b > 0 THEN
               round(CAST(n_gt - n_lt AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
             END AS delta,
             CASE
               WHEN n_a = 0 OR n_b = 0 THEN NULL
               WHEN ABS(round(CAST(n_gt - n_lt AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6))
                 < 0.147 THEN 'negligible'
               WHEN ABS(round(CAST(n_gt - n_lt AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6))
                 < 0.33 THEN 'small'
               WHEN ABS(round(CAST(n_gt - n_lt AS DOUBLE) /
                 (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6))
                 < 0.474 THEN 'medium'
               ELSE 'large'
             END AS magnitude
      FROM agg
    """))

  val all: Seq[GraftQuery] = Seq(q250)
}
