package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X237 — Cramér–von Mises two-sample test (Cramér 1928 / von Mises
  * 1931; the two-sample rank form and its tables: Anderson, Ann.
  * Math. Stat. 1962): do the two arms' value distributions differ,
  * weighting the WHOLE EDF gap — the L² companion to q205's KS
  * (sup-norm, most sensitive at the median) and q149's rank-sum
  * (location only). CvM accumulates (F̂−Ĝ)² across the full support,
  * so tail-and-shoulder differences that KS's single supremum and
  * Wilcoxon's mean rank both miss still register — the standard
  * second opinion in a drift battery.
  *
  * Anderson's rank form: T = U/(n·m·N) − (4nm−1)/(6N) with
  * U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)², r/s = combined-sample ranks, i/j =
  * within-sample ranks. Ties take midranks (the q149 doubled
  * discipline — stated; under no ties this is exactly Anderson's T).
  * Per distinct value the tie block contributes
  * Σⱼ₌₁..t (D−2j)² = t·D² − 2D·t(t+1) + (2/3)·t(t+1)(2t+1) with
  * D = (2·cumAll + t_all + 1) − 2·cumOwn — every symbol an exact
  * long from the two-level bucketed prefix swap (shared
  * [[RankSum.prefixSums]], the q268 machinery with a combined
  * lane), evaluated as ONE double tree per row and summed as
  * DECIMAL(38,6) lanes. Empty arm → NULL. Significance at Anderson's
  * asymptotic 5 % point 0.461.
  *
  * Scale shape: one scan → the |distinct values| frame with three
  * count columns → bucket partials + ≤1025-row offsets + a
  * bucket-partitioned window → a 1-row decimal fold. No
  * single-partition window, no pair face.
  */
object CramerVonMises {

  /** Asymptotic 5 % critical value of the limiting ω² distribution
    * (Anderson 1962, Table 1).
    */
  private val Crit = 0.461d

  /** q269 — CvM distance between the even/odd user arms on
    * events.value.
    */
  val q269 = GraftQuery(
    "q269_cramer_von_mises", {
      (s, d) => {
        val byVal = RankSum.armCensus(t(s, d, "events"))
        val cums = RankSum.prefixSums(byVal, col("v"),
          Seq(col("ta") -> "ca", col("tb") -> "cb", col("t") -> "ctot"),
          col("v"))
        def blockSum4(tg: org.apache.spark.sql.Column,
            cOwn: org.apache.spark.sql.Column) = {
          val dd = (lit(2L) * col("ctot") + col("t") + 1L -
            lit(2L) * cOwn).cast("double")
          val tgd = tg.cast("double")
          tgd * dd * dd - lit(2.0d) * dd * tgd * (tgd + 1.0d) +
            tgd * (tgd + 1.0d) * (lit(2.0d) * tgd + 1.0d) *
              lit(2.0d) / 3.0d
        }
        cums
          .withColumn("s4a_row", blockSum4(col("ta"), col("ca")))
          .withColumn("s4b_row", blockSum4(col("tb"), col("cb")))
          .agg(sum(col("ta")).as("n_a"), sum(col("tb")).as("n_b"),
            sum(col("s4a_row").cast("decimal(38,6)")).cast("double")
              .as("s4a"),
            sum(col("s4b_row").cast("decimal(38,6)")).cast("double")
              .as("s4b"))
          .withColumn("nn",
            (col("n_a") + col("n_b")).cast("double"))
          .withColumn("t_stat",
            when(col("n_a") > 0L && col("n_b") > 0L,
              (col("n_a").cast("double") * col("s4a") +
                col("n_b").cast("double") * col("s4b")) /
                (lit(4.0d) * col("n_a").cast("double") *
                  col("n_b").cast("double") * col("nn")) -
                (lit(4.0d) * col("n_a").cast("double") *
                  col("n_b").cast("double") - 1.0d) /
                  (lit(6.0d) * col("nn"))))
          .select(col("n_a"), col("n_b"),
            round(col("t_stat"), 6).as("t_r"),
            (round(col("t_stat"), 6) > Crit).as("significant"))
      }
    },
    Some(s"""
      WITH obs AS (
        SELECT value AS v, user_id % 2 AS g FROM events),
      byval AS (
        SELECT v,
               CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS ta,
               CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS tb,
               COUNT(*) AS t
        FROM obs GROUP BY v),
      cums AS (
        SELECT *,
               COALESCE(SUM(ta) OVER w, 0) AS ca,
               COALESCE(SUM(tb) OVER w, 0) AS cb,
               COALESCE(SUM(t) OVER w, 0) AS ctot
        FROM byval
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      rows_ AS (
        SELECT ta, tb,
               CAST(ta AS DOUBLE) * CAST(2 * ctot + t + 1 - 2 * ca
                   AS DOUBLE) * CAST(2 * ctot + t + 1 - 2 * ca AS DOUBLE)
                 - 2.0 * CAST(2 * ctot + t + 1 - 2 * ca AS DOUBLE)
                   * CAST(ta AS DOUBLE) * (CAST(ta AS DOUBLE) + 1.0)
                 + CAST(ta AS DOUBLE) * (CAST(ta AS DOUBLE) + 1.0)
                   * (2.0 * CAST(ta AS DOUBLE) + 1.0) * 2.0 / 3.0
                 AS s4a_row,
               CAST(tb AS DOUBLE) * CAST(2 * ctot + t + 1 - 2 * cb
                   AS DOUBLE) * CAST(2 * ctot + t + 1 - 2 * cb AS DOUBLE)
                 - 2.0 * CAST(2 * ctot + t + 1 - 2 * cb AS DOUBLE)
                   * CAST(tb AS DOUBLE) * (CAST(tb AS DOUBLE) + 1.0)
                 + CAST(tb AS DOUBLE) * (CAST(tb AS DOUBLE) + 1.0)
                   * (2.0 * CAST(tb AS DOUBLE) + 1.0) * 2.0 / 3.0
                 AS s4b_row
        FROM cums),
      folded AS (
        SELECT CAST(SUM(ta) AS BIGINT) AS n_a,
               CAST(SUM(tb) AS BIGINT) AS n_b,
               CAST(SUM(CAST(s4a_row AS DECIMAL(38,6))) AS DOUBLE)
                 AS s4a,
               CAST(SUM(CAST(s4b_row AS DECIMAL(38,6))) AS DOUBLE)
                 AS s4b
        FROM rows_),
      stats AS (
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 (CAST(n_a AS DOUBLE) * s4a + CAST(n_b AS DOUBLE) * s4b)
                   / (4.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      * CAST(n_a + n_b AS DOUBLE))
                 - (4.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    - 1.0) / (6.0 * CAST(n_a + n_b AS DOUBLE))
               END AS t_stat
        FROM folded)
      SELECT n_a, n_b,
             round(t_stat, 6) AS t_r,
             round(t_stat, 6) > $Crit AS significant
      FROM stats
    """))

  val all: Seq[GraftQuery] = Seq(q269)
}
