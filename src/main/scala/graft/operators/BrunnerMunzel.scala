package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X259 — Brunner–Munzel generalized Wilcoxon test (Brunner & Munzel
  * 2000) between the user-parity arms on events.value: the rank test
  * that stays VALID when the arms' dispersions differ — exactly the
  * case q286's Ansari–Bradley detects, where the classical rank-sum
  * (q149) quietly tests the wrong null (its variance assumes
  * exchangeable spreads, the nonparametric Behrens–Fisher problem).
  * The estimand is the relative effect p̂ = P(X<Y) + ½P(X=Y); the
  * variance comes from PLACEMENTS (overall midrank minus within-arm
  * midrank), which is what makes unequal spreads legal. The battery
  * reads: q286 says the spreads differ → q290 is the location gate
  * to trust, not q149.
  *
  * T = nₐn_b·(R̄_b − R̄ₐ) / (N·√(nₐv₁ + n_b v₂)), vᵢ the unbiased
  * placement variance of arm i; large-sample z gate (the
  * Satterthwaite df → ∞ at any SF here, stated — both engines share
  * the identical tree regardless).
  *
  * Determinism: the core is EXACT integers — doubled overall and
  * within-arm midranks (2·cum + t + 1, the q149 discipline) from the
  * two-level bucketed swap give doubled placements 2P = R2 − R2ᵢ per
  * tie block, and Σtᵢ·2P, Σtᵢ·(2P)² are exact longs, so each vᵢ and
  * the statistic are single double trees over longs. Eager census;
  * degenerate placement variance (identical arms' structure) → NULL.
  *
  * Scale shape: one scan → eager |distinct values| census → bucket
  * partials + ≤1025-row offsets broadcast + bucket-partitioned
  * windows → a 1-row integer fold. No single-partition window, no
  * pair face.
  */
object BrunnerMunzel {

  private val Z = 1.9599639845400536d

  /** q290 — relative effect + BM statistic, even vs odd user arms. */
  val q290 = GraftQuery(
    "q290_brunner_munzel", {
      (s, d) => {
        val byVal = graft.Checkpoints.eager(
          RankSum.armCensus(t(s, d, "events")))
        val cums = RankSum.prefixSums(byVal, col("v"),
          Seq(col("ta") -> "ca", col("tb") -> "cb", col("t") -> "ct"),
          col("v"))
        // doubled midranks: overall r2 = 2ct + t + 1, within-arm
        // r2a = 2ca + ta + 1; doubled placement 2P = r2 − r2i
        val p2a = (lit(2L) * col("ct") + col("t")) -
          (lit(2L) * col("ca") + col("ta"))
        val p2b = (lit(2L) * col("ct") + col("t")) -
          (lit(2L) * col("cb") + col("tb"))
        val r2 = lit(2L) * col("ct") + col("t") + 1L
        cums
          .groupBy()
          .agg(sum(col("ta")).as("na"), sum(col("tb")).as("nb"),
            sum(col("ta") * r2).as("r2a_sum"),
            sum(col("tb") * r2).as("r2b_sum"),
            sum(col("ta") * p2a).as("sp_a"),
            sum(col("ta") * p2a * p2a).as("sq_a"),
            sum(col("tb") * p2b).as("sp_b"),
            sum(col("tb") * p2b * p2b).as("sq_b"))
          .withColumn("nn", (col("na") + col("nb")).cast("double"))
          .withColumn("naD", col("na").cast("double"))
          .withColumn("nbD", col("nb").cast("double"))
          // unbiased placement variances from the doubled lanes
          .withColumn("v_a",
            when(col("na") > 1L,
              (col("sq_a").cast("double") -
                col("sp_a").cast("double") * col("sp_a").cast("double") /
                  col("naD")) / (lit(4.0d) * (col("naD") - 1.0d))))
          .withColumn("v_b",
            when(col("nb") > 1L,
              (col("sq_b").cast("double") -
                col("sp_b").cast("double") * col("sp_b").cast("double") /
                  col("nbD")) / (lit(4.0d) * (col("nbD") - 1.0d))))
          // mean doubled midranks: R̄ = r2_sum/(2n)
          .withColumn("rbar_a",
            col("r2a_sum").cast("double") / (lit(2.0d) * col("naD")))
          .withColumn("rbar_b",
            col("r2b_sum").cast("double") / (lit(2.0d) * col("nbD")))
          .withColumn("p_hat",
            when(col("na") > 0L && col("nb") > 0L,
              (col("rbar_b") - (col("nbD") + 1.0d) / 2.0d) /
                col("naD")))
          .withColumn("t_bm",
            when(col("v_a").isNotNull && col("v_b").isNotNull &&
              col("naD") * col("v_a") + col("nbD") * col("v_b") > 0d,
              col("naD") * col("nbD") *
                (col("rbar_b") - col("rbar_a")) /
                (col("nn") * sqrt(col("naD") * col("v_a") +
                  col("nbD") * col("v_b")))))
          .select(col("na").as("n_a"), col("nb").as("n_b"),
            round(col("p_hat"), 6).as("p_hat_r"),
            round(col("t_bm"), 6).as("t_r"),
            when(col("t_bm").isNotNull, abs(col("t_bm")) > Z)
              .as("significant"))
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
        SELECT ta, tb, t,
               COALESCE(SUM(ta) OVER w, 0) AS ca,
               COALESCE(SUM(tb) OVER w, 0) AS cb,
               COALESCE(SUM(t) OVER w, 0) AS ct
        FROM byval
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      lanes AS (
        SELECT ta, tb, t,
               2 * ct + t + 1 AS r2,
               (2 * ct + t) - (2 * ca + ta) AS p2a,
               (2 * ct + t) - (2 * cb + tb) AS p2b
        FROM cums),
      folded AS (
        SELECT CAST(SUM(ta) AS BIGINT) AS na,
               CAST(SUM(tb) AS BIGINT) AS nb,
               CAST(SUM(ta * r2) AS BIGINT) AS r2a_sum,
               CAST(SUM(tb * r2) AS BIGINT) AS r2b_sum,
               CAST(SUM(ta * p2a) AS BIGINT) AS sp_a,
               CAST(SUM(ta * p2a * p2a) AS BIGINT) AS sq_a,
               CAST(SUM(tb * p2b) AS BIGINT) AS sp_b,
               CAST(SUM(tb * p2b * p2b) AS BIGINT) AS sq_b
        FROM lanes),
      calc AS (
        SELECT na, nb,
               CAST(na + nb AS DOUBLE) AS nn,
               CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
               CASE WHEN na > 1 THEN
                 (CAST(sq_a AS DOUBLE) - CAST(sp_a AS DOUBLE)
                    * CAST(sp_a AS DOUBLE) / CAST(na AS DOUBLE))
                   / (4.0 * (CAST(na AS DOUBLE) - 1.0)) END AS v_a,
               CASE WHEN nb > 1 THEN
                 (CAST(sq_b AS DOUBLE) - CAST(sp_b AS DOUBLE)
                    * CAST(sp_b AS DOUBLE) / CAST(nb AS DOUBLE))
                   / (4.0 * (CAST(nb AS DOUBLE) - 1.0)) END AS v_b,
               CAST(r2a_sum AS DOUBLE) / (2.0 * CAST(na AS DOUBLE))
                 AS rbar_a,
               CAST(r2b_sum AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE))
                 AS rbar_b
        FROM folded),
      stats AS (
        SELECT na, nb,
               CASE WHEN na > 0 AND nb > 0 THEN
                 (rbar_b - (nbd + 1.0) / 2.0) / nad END AS p_hat,
               CASE WHEN v_a IS NOT NULL AND v_b IS NOT NULL
                     AND nad * v_a + nbd * v_b > 0 THEN
                 nad * nbd * (rbar_b - rbar_a)
                   / (nn * sqrt(nad * v_a + nbd * v_b)) END AS t_bm
        FROM calc)
      SELECT na AS n_a, nb AS n_b,
             round(p_hat, 6) AS p_hat_r,
             round(t_bm, 6) AS t_r,
             CASE WHEN t_bm IS NOT NULL THEN ABS(t_bm) > $Z END
               AS significant
      FROM stats
    """))

  val all: Seq[GraftQuery] = Seq(q290)
}
