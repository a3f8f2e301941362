package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X202 — Mann–Kendall trend test over daily volume series (Mann
  * 1945, Kendall's τ rank correlation against time; the
  * tie-corrected normal approximation per Kendall 1975): per feed,
  *   S = Σ_{i<j} sign(x_j − x_i)
  * over the daily-count series, its tie-corrected variance, and the
  * continuity-corrected z — IS this feed's volume monotonically
  * drifting, distribution-free. The significance companion to X131's
  * Theil–Sen (which estimates the slope but carries no test) and the
  * monotone-trend complement of X197's short-lag dependence audit;
  * X143's CUSUM then localizes where the drift started.
  *
  * Determinism: S is an exact long (sign sums), the variance is kept
  * as its EXACT integer numerator over 18 —
  *   18·Var = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)
  * — and z is one fixed double tree over those integer leaves (sqrt
  * is IEEE correctly-rounded on both engines). Groups with n < 2
  * days are EXCLUDED from the output entirely (the s_stat pair
  * self-join produces no row for a single-day series and the
  * downstream joins are inner — both engines agree); only the
  * all-values-tied case survives to the output and yields NULL z
  * (guarded division). Rejection bar =
  * N(0,1) 0.975 quantile embedded as a literal (the X147/X197
  * discipline).
  *
  * Scale shape: one map-side groupBy to the |types × days| frame,
  * then the pair face runs on THAT dimension frame (days grow with
  * wall time, not volume — the X180/X218 economics, stated), plus a
  * |types × values| tie census. The corpus is touched once.
  */
object MannKendall {

  /** N(0,1) quantile at 0.975. */
  val Z975: Double = 1.959963984540054

  /** The full statistic over an arbitrary (g, day, x) series frame —
    * factored so X211's aspect-drift query (q244) reuses the exact
    * tree; output columns (g, n_days, s_stat, var18, z,
    * trend_detected), caller renames as fits its axis.
    */
  private[operators] def testOn(daily: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
        val sStat = daily.as("a")
          .join(daily.as("b"),
            col("a.g") === col("b.g") && col("a.day") < col("b.day"))
          .groupBy(col("a.g").as("g"))
          .agg(sum(when(col("b.x") > col("a.x"), 1L)
            .when(col("b.x") < col("a.x"), -1L)
            .otherwise(0L)).as("s_stat"))
        val nF = daily.groupBy(col("g")).agg(count(lit(1)).as("n"))
        val ties = daily.groupBy(col("g"), col("x"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("g"))
          .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
        nF.join(sStat, Seq("g")).join(ties, Seq("g"))
          .withColumn("var18",
            expr("n * (n - 1) * (2 * n + 5) - tie_term"))
          .withColumn("z", expr(
            "case when var18 > 0 then " +
              "case when s_stat > 0 then " +
              "(cast(s_stat as double) - 1.0) " +
              "/ sqrt(cast(var18 as double) / 18.0) " +
              "when s_stat < 0 then (cast(s_stat as double) + 1.0) " +
              "/ sqrt(cast(var18 as double) / 18.0) " +
              "else 0.0 end end"))
          .withColumn("trend_detected",
            when(col("var18") > 0, abs(col("z")) > Z975))
          .select(col("g"), col("n").as("n_days"), col("s_stat"),
            col("var18"), col("z"), col("trend_detected"))
          .orderBy(col("g"))
  }

  /** The statistic's DuckDB block over a `(g, day, x)` relation
    * named `rel` (mirror of [[testOn]]); ends in the final SELECT.
    */
  private[operators] def statSql(rel: String): String = s"""
      s_stat AS (
        SELECT a.g AS g,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                 AS BIGINT) AS s_stat
        FROM $rel a JOIN $rel b
          ON a.g = b.g AND a.day < b.day
        GROUP BY 1),
      nf AS (SELECT g, COUNT(*) AS n FROM $rel GROUP BY 1),
      ties AS (
        SELECT g, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                 AS tie_term
        FROM (SELECT g, x, COUNT(*) AS t FROM $rel GROUP BY 1, 2)
        GROUP BY 1),
      joined AS (
        SELECT nf.g, n, s_stat,
               n * (n - 1) * (2 * n + 5) - tie_term AS var18
        FROM nf JOIN s_stat ON nf.g = s_stat.g
                JOIN ties ON nf.g = ties.g),
      zs AS (
        SELECT g, n AS n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
               CASE WHEN var18 > 0 THEN
                 CASE WHEN s_stat > 0 THEN
                   (CAST(s_stat AS DOUBLE) - 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                 WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                 ELSE 0.0 END END AS z
        FROM joined)"""

  /** The statistic's final projection over the `zs` relation
    * [[statSql]] ends in (split out so q244 can re-alias the axis).
    */
  private[operators] def statFinalSql: String = s"""
      SELECT g, n_days, s_stat, var18, z,
             CASE WHEN var18 > 0 THEN ABS(z) > $Z975 END
               AS trend_detected
      FROM zs"""

  /** q237 — per-type Mann–Kendall S, tie-corrected variance, z. */
  val q237 = GraftQuery(
    "q237_mann_kendall",
    (s, d) => testOn(
      t(s, d, "events")
        .groupBy(col("event_type").as("g"),
          (unix_timestamp(date_trunc("day", col("ts"))) / 86400L)
            .cast("long").as("day"))
        .agg(count(lit(1)).as("x"))),
    Some(s"""
      WITH daily AS (
        SELECT event_type AS g,
               CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
                 AS day,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2),
      ${statSql("daily")}
      $statFinalSql
      ORDER BY g
    """))

  val all: Seq[GraftQuery] = Seq(q237)
}
