package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X255 — Ansari–Bradley rank dispersion test (Ansari & Bradley 1960)
  * between the even/odd user arms on events.value: the NONPARAMETRIC
  * scale test — q270/q283 compare variances assuming moments behave;
  * AB asks "does one arm sit in the TAILS of the pooled sample"
  * using only ranks, via the tent scores a(i) = min(i, N+1−i) (small
  * at both extremes, peaked at the median). An arm whose score sum
  * falls below expectation is over-dispersed relative to the other —
  * the location-free spread gate for an A/B whose medians already
  * agree (q149/q271 territory).
  *
  * Ties take the block-average score (the midrank convention); the
  * null moments come from the permutation distribution GIVEN the tie
  * pattern: E[AB] = n₁·ā, Var = n₁n₂(Σa² − N·ā²)/(N(N−1)) — the
  * standard conditional form, so no even/odd-N case split is needed.
  *
  * Determinism: the value census and its plus/pre-block cumulatives
  * are exact longs from the two-level bucketed prefix swap (the
  * q269/q278 machinery, eager census); each tie block's TOTAL tent
  * score S(lo..hi) is exact triangular-number algebra on longs
  * (split at ⌊(N+1)/2⌋ with greatest/least, identical both engines),
  * so Σa = ΣS is an exact long and only the per-block averages S/t
  * and squares S²/t are doubles, summed as DECIMAL(30,14) lanes; z
  * is one tree with the z(0.975) literal. All-tied census (zero
  * score variance) → NULL.
  *
  * Scale shape: one scan → the eager |distinct values| census →
  * bucket partials + ≤1025-row offsets broadcast + bucket-partitioned
  * windows → a 1-row decimal fold. No single-partition window, no
  * pair face.
  */
object AnsariBradley {

  private val Z = 1.9599639845400536d

  /** q286 — tent-score dispersion contrast of the user-parity arms. */
  val q286 = GraftQuery(
    "q286_ansari_bradley", {
      (s, d) => {
        val byVal = graft.Checkpoints.eager(
          RankSum.armCensus(t(s, d, "events")))
        val totals = byVal.agg(sum(col("ta")).as("na"),
          sum(col("tb")).as("nb"), sum(col("t")).as("nn"))
        val cums = RankSum.prefixSums(byVal, col("v"),
          Seq(col("t") -> "pre"), col("v"))
        // block positions lo..hi; tent-score block total via
        // triangular numbers split at ctr = (N+1) div 2 — exact
        // integer `div` arithmetic (x(x+1) is even), identical to the
        // `//` tree in the oracle
        cums.join(broadcast(totals))
          .withColumn("lo", col("pre") + 1L)
          .withColumn("hi", col("pre") + col("t"))
          .withColumn("ctr", expr("(nn + 1) div 2"))
          .withColumn("sblk", expr("""
            (CASE WHEN lo <= least(hi, ctr) THEN
               (least(hi, ctr) * (least(hi, ctr) + 1)) div 2
                 - ((lo - 1) * lo) div 2
             ELSE 0 END)
            + (CASE WHEN hi >= greatest(lo, ctr + 1) THEN
               (nn + 1) * (hi - greatest(lo, ctr + 1) + 1)
                 - ((hi * (hi + 1)) div 2
                    - ((greatest(lo, ctr + 1) - 1)
                       * greatest(lo, ctr + 1)) div 2)
             ELSE 0 END)"""))
          .withColumn("ab_term",
            col("ta").cast("double") * col("sblk").cast("double") /
              col("t").cast("double"))
          .withColumn("a2_term",
            col("sblk").cast("double") * col("sblk").cast("double") /
              col("t").cast("double"))
          .groupBy()
          .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
            max(col("nn")).as("nn"),
            sum(col("sblk")).as("stot"),
            sum(col("ab_term").cast("decimal(30,14)")).cast("double")
              .as("ab"),
            sum(col("a2_term").cast("decimal(30,14)")).cast("double")
              .as("sa2"))
          .withColumn("nd", col("nn").cast("double"))
          .withColumn("ex",
            col("n_a").cast("double") * col("stot").cast("double") /
              col("nd"))
          .withColumn("vr",
            col("n_a").cast("double") * col("n_b").cast("double") *
              (col("sa2") - col("stot").cast("double") *
                col("stot").cast("double") / col("nd")) /
              (col("nd") * (col("nd") - 1.0d)))
          .withColumn("z",
            when(col("vr") > 0d,
              round((col("ab") - col("ex")) / sqrt(col("vr")), 6)))
          .select(col("n_a"), col("n_b"),
            round(col("ab"), 6).as("ab_r"),
            round(col("ex"), 6).as("e_r"), col("z").as("z_r"),
            when(col("z").isNotNull, abs(col("z")) > Z)
              .as("dispersion_differs"))
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
      totals AS (
        SELECT CAST(SUM(ta) AS BIGINT) AS na,
               CAST(SUM(tb) AS BIGINT) AS nb,
               CAST(SUM(t) AS BIGINT) AS nn
        FROM byval),
      cums AS (
        SELECT ta, tb, t,
               COALESCE(SUM(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS pre
        FROM byval),
      blocks AS (
        SELECT c.ta, c.tb, c.t, t2.na, t2.nb, t2.nn,
               (CASE WHEN c.pre + 1 <= least(c.pre + c.t, (t2.nn + 1) // 2)
                 THEN least(c.pre + c.t, (t2.nn + 1) // 2)
                   * (least(c.pre + c.t, (t2.nn + 1) // 2) + 1) // 2
                   - c.pre * (c.pre + 1) // 2
                 ELSE 0 END)
               + (CASE WHEN c.pre + c.t >=
                   greatest(c.pre + 1, (t2.nn + 1) // 2 + 1)
                 THEN (t2.nn + 1) * (c.pre + c.t
                     - greatest(c.pre + 1, (t2.nn + 1) // 2 + 1) + 1)
                   - ((c.pre + c.t) * (c.pre + c.t + 1) // 2
                     - (greatest(c.pre + 1, (t2.nn + 1) // 2 + 1) - 1)
                       * greatest(c.pre + 1, (t2.nn + 1) // 2 + 1) // 2)
                 ELSE 0 END) AS sblk
        FROM cums c CROSS JOIN totals t2),
      folded AS (
        SELECT MAX(na) AS n_a, MAX(nb) AS n_b, MAX(nn) AS nn,
               CAST(SUM(sblk) AS BIGINT) AS stot,
               CAST(SUM(CAST(CAST(ta AS DOUBLE) * CAST(sblk AS DOUBLE)
                 / CAST(t AS DOUBLE) AS DECIMAL(30,14))) AS DOUBLE)
                 AS ab,
               CAST(SUM(CAST(CAST(sblk AS DOUBLE) * CAST(sblk AS DOUBLE)
                 / CAST(t AS DOUBLE) AS DECIMAL(30,14))) AS DOUBLE)
                 AS sa2
        FROM blocks),
      calc AS (
        SELECT n_a, n_b, ab,
               CAST(n_a AS DOUBLE) * CAST(stot AS DOUBLE)
                 / CAST(nn AS DOUBLE) AS ex,
               CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 * (sa2 - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
                    / CAST(nn AS DOUBLE))
                 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))
                 AS vr
        FROM folded)
      SELECT n_a, n_b, round(ab, 6) AS ab_r, round(ex, 6) AS e_r,
             CASE WHEN vr > 0 THEN
               round((ab - ex) / sqrt(vr), 6) END AS z_r,
             CASE WHEN vr > 0 THEN
               ABS(round((ab - ex) / sqrt(vr), 6)) > $Z
             END AS dispersion_differs
      FROM calc
    """))

  val all: Seq[GraftQuery] = Seq(q286)
}
