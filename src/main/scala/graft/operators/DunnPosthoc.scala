package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X244 — Dunn's post-hoc pairwise comparisons (Dunn 1964) with
  * Bonferroni correction, the follow-up q247's Kruskal–Wallis omnibus
  * leaves open: KW says "SOME priority differs in price level" —
  * Dunn says WHICH pairs differ, on the same tie-corrected combined
  * ranks, at the familywise-safe per-pair level α/m. Running pairwise
  * Mann–Whitneys instead would both inflate α and use pair-local
  * ranks; Dunn is the standard k-group follow-up.
  *
  * z_ij = (R̄_i − R̄_j) / √[ (N(N+1)/12 − Σ(t³−t)/(12(N−1))) ·
  * (1/n_i + 1/n_j) ].
  *
  * Determinism: mean ranks ride the same DOUBLED midranks as q247
  * (R2_g = Σ m·(2·cum + t + 1), exact longs from the shared
  * [[RankSum.prefixSums]] swap); each z is ONE double tree over
  * exact longs (the halving folds into the final division); the
  * Bonferroni critical value z(1 − 0.025/m) is an embedded literal
  * CASE over m = k(k−1)/2 ∈ {1,3,6,10,15,21,28} (k ≤ 8) ending in a
  * loud raise_error/error() on both engines past the table.
  *
  * Scale shape: ONE corpus pass to an eagerly-materialized
  * (group, value) census; the value census, two-level prefix swap
  * (no single-partition window) and the ≤k-row group frame re-agg it,
  * and the group frame is checkpointed before its ≤k²-row self-join
  * (three consumers would otherwise re-execute its lineage).
  */
object DunnPosthoc {

  /** z(1 − 0.025/m) for m = k(k−1)/2, k = 2..8. */
  private val CritByM: Seq[(Int, Double)] = Seq(
    1 -> 1.9599639845400536, 3 -> 2.3939797998185104,
    6 -> 2.638257273476751, 10 -> 2.8070337683438114,
    15 -> 2.9351994688666982, 21 -> 3.038074304924211,
    28 -> 3.123734630323846)

  private def critCaseSpark(mExpr: String): String =
    CritByM.map { case (m, z) => s"WHEN $mExpr = $m THEN ${z}d" }
      .mkString("CASE ", " ",
        " ELSE raise_error('dunn_posthoc: m = k(k-1)/2 outside the" +
          " embedded z table (k <= 8) — extend CritByM') END")

  private def critCaseDuck(mExpr: String): String =
    CritByM.map { case (m, z) => s"WHEN $mExpr = $m THEN $z" }
      .mkString("CASE ", " ",
        " ELSE CAST(error('dunn_posthoc: m out of table') AS DOUBLE)" +
          " END")

  /** q272 — pairwise priority comparisons after the q247 omnibus. */
  val q272 = GraftQuery(
    "q272_dunn_posthoc", {
      (s, d) => {
        val obs = t(s, d, "orders")
          .select(col("o_orderpriority").as("grp"),
            col("o_totalprice").cast("double").as("v"))
        // ONE corpus pass: the (group, value) census is materialized
        // eagerly (the q240 discipline) and the value census, rank
        // frame and group sums all re-agg it; the ≤k-row group frame
        // is checkpointed too because the pair self-join and the k
        // count reference it three times
        val grpCensus = graft.Checkpoints.eager(
          obs.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("m")))
        val byVal = grpCensus.groupBy(col("v"))
          .agg(sum(col("m")).as("t"))
        val ranked = RankSum.prefixSums(byVal, col("v"),
          Seq(col("t") -> "cum"), col("v"))
          .withColumn("r2", lit(2L) * col("cum") + col("t") + 1L)
          .select(col("v"), col("r2"))
        val perGrp = graft.Checkpoints.eager(grpCensus
          .join(ranked, "v")
          .groupBy(col("grp"))
          .agg(sum(col("m")).as("n_g"),
            sum(col("m") * col("r2")).as("r2_g")))
        val totals = byVal.agg(sum(col("t")).as("n"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties3"))
        val k = perGrp.agg(count(lit(1)).as("k"))
        val nD = col("n").cast("double")
        // pooled variance factor: (N(N+1) − Σ(t³−t)/(N−1)) / 12
        val varFac = (nD * (nD + 1.0d) -
          col("ties3").cast("double") / (nD - 1.0d)) / 12.0d
        perGrp.as("i")
          .join(perGrp.as("j"), col("i.grp") < col("j.grp"))
          .join(broadcast(totals)).join(broadcast(k))
          .withColumn("m_pairs", (col("k") * (col("k") - 1L) / 2L)
            .cast("int"))
          // R̄_i − R̄_j = (R2_i/n_i − R2_j/n_j)/2
          .withColumn("z",
            when(col("n") > 1L && varFac > 0d,
              round((col("i.r2_g").cast("double") /
                col("i.n_g").cast("double") -
                col("j.r2_g").cast("double") /
                  col("j.n_g").cast("double")) / 2.0d /
                sqrt(varFac *
                  (lit(1.0d) / col("i.n_g").cast("double") +
                    lit(1.0d) / col("j.n_g").cast("double"))), 6)))
          .withColumn("crit", expr(critCaseSpark("m_pairs")))
          .select(col("i.grp").as("grp_a"), col("j.grp").as("grp_b"),
            col("i.n_g").as("n_a"), col("j.n_g").as("n_b"),
            col("z").as("z_r"), round(col("crit"), 6).as("crit_r"),
            (abs(col("z")) > col("crit")).as("significant"))
          .orderBy(col("grp_a"), col("grp_b"))
      }
    },
    Some(s"""
      WITH obs AS (
        SELECT o_orderpriority AS grp,
               CAST(o_totalprice AS DOUBLE) AS v
        FROM orders),
      byval AS (SELECT v, COUNT(*) AS t FROM obs GROUP BY v),
      ranked AS (
        SELECT v, 2 * COALESCE(SUM(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + t + 1 AS r2
        FROM byval),
      pergrp AS (
        SELECT grp, SUM(m) AS n_g, SUM(m * r2) AS r2_g
        FROM (SELECT grp, v, COUNT(*) AS m FROM obs GROUP BY 1, 2) g
        JOIN ranked USING (v)
        GROUP BY grp),
      totals AS (
        SELECT SUM(t) AS n, SUM(t * t * t - t) AS ties3 FROM byval),
      kk AS (SELECT COUNT(*) AS k FROM pergrp),
      pairs AS (
        SELECT i.grp AS grp_a, j.grp AS grp_b,
               CAST(i.n_g AS BIGINT) AS n_a,
               CAST(j.n_g AS BIGINT) AS n_b,
               CAST(i.r2_g AS DOUBLE) / CAST(i.n_g AS DOUBLE) AS rb_a,
               CAST(j.r2_g AS DOUBLE) / CAST(j.n_g AS DOUBLE) AS rb_b,
               CAST(i.n_g AS DOUBLE) AS na_d,
               CAST(j.n_g AS DOUBLE) AS nb_d,
               t.n, t.ties3, k.k,
               CAST(k.k * (k.k - 1) // 2 AS INTEGER) AS m_pairs,
               (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0)
                 - CAST(t.ties3 AS DOUBLE)
                   / (CAST(t.n AS DOUBLE) - 1.0)) / 12.0 AS var_fac
        FROM pergrp i JOIN pergrp j ON i.grp < j.grp
        CROSS JOIN totals t CROSS JOIN kk k)
      SELECT grp_a, grp_b, n_a, n_b,
             CASE WHEN n > 1 AND var_fac > 0 THEN
               round((rb_a - rb_b) / 2.0
                 / sqrt(var_fac * (1.0 / na_d + 1.0 / nb_d)), 6)
             END AS z_r,
             round(${critCaseDuck("m_pairs")}, 6) AS crit_r,
             ABS(CASE WHEN n > 1 AND var_fac > 0 THEN
               round((rb_a - rb_b) / 2.0
                 / sqrt(var_fac * (1.0 / na_d + 1.0 / nb_d)), 6)
             END) > ${critCaseDuck("m_pairs")} AS significant
      FROM pairs
      ORDER BY grp_a, grp_b
    """))

  val all: Seq[GraftQuery] = Seq(q272)
}
