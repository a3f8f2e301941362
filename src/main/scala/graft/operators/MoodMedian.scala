package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X243 — Mood's median test (Mood 1950; Brown & Mood 1951) of
  * `o_totalprice` across the five order priorities: the bluntest —
  * and most outlier-proof — of the k-group location tests. Where
  * q247's Kruskal–Wallis uses the full rank information, Mood's test
  * reduces each observation to one bit (above/below the GRAND
  * median) and runs a k×2 χ² on the counts; it is the test of choice
  * when the tails are wild enough that even ranks feel generous, and
  * the cheap first gate before the heavier rank machinery.
  *
  * Determinism: prices become exact cent longs; the grand median is
  * kept DOUBLED (the q248 discipline — lo + hi order statistics of
  * the value census, never a .5), so sides are strict integer
  * comparisons with AT-median rows excluded (the classical
  * treatment); cell counts are exact longs, each χ² cell term is one
  * double tree and the ≤2k terms ride DECIMAL(30,14) lanes. The
  * critical value is the shared [[ChiSqCrit]] CASE at df = k−1.
  *
  * Scale shape: ONE corpus pass to an eagerly-materialized
  * (group, value) census (the q240 recompute discipline — without the
  * checkpoint the census subtree re-executes per consumer); the value
  * census, grand median (two-level bucketed prefix swap, shared
  * [[RankSum.prefixSums]] — NO single-partition window over the
  * price frame) and the k×2 sides are all re-aggs of that census.
  */
object MoodMedian {

  /** q271 — k×2 above/below-grand-median counts by order priority. */
  val q271 = GraftQuery(
    "q271_mood_median", {
      (s, d) => {
        val obs = t(s, d, "orders")
          .select(col("o_orderpriority").as("grp"),
            (dec(col("o_totalprice")) * 100).cast("long").as("v"))
        // ONE corpus pass: the (group, value) census is materialized
        // eagerly (the q240 discipline) and every downstream frame —
        // value census, median, sides — is a re-agg of it
        val grpCensus = graft.Checkpoints.eager(
          obs.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("m")))
        val byVal = grpCensus.groupBy(col("v"))
          .agg(sum(col("m")).as("t"))
        val cum = RankSum.prefixSums(byVal, col("v"),
          Seq(col("t") -> "cum"), col("v"))
        val totals = byVal.agg(sum(col("t")).as("n"))
        // 1-row doubled-median frame, checkpointed: two broadcast
        // consumers (sides, output) would otherwise re-run the prefix
        // swap machinery per reference
        val med = graft.Checkpoints.eager(cum.join(broadcast(totals))
          .withColumn("lo_rank", expr("(n + 1) div 2"))
          .withColumn("hi_rank", expr("n div 2") + 1L)
          .withColumn("med_part",
            when(col("cum") < col("lo_rank") &&
              col("cum") + col("t") >= col("lo_rank"), col("v"))
              .otherwise(0L) +
              when(col("cum") < col("hi_rank") &&
                col("cum") + col("t") >= col("hi_rank"), col("v"))
                .otherwise(0L))
          .agg(sum(col("med_part")).as("med2")))
        val cells = grpCensus.join(broadcast(med))
          .filter(col("v") * 2L =!= col("med2"))
          .groupBy(col("grp"))
          .agg(sum(when(col("v") * 2L > col("med2"), col("m"))
            .otherwise(0L)).as("a"),
            sum(when(col("v") * 2L < col("med2"), col("m"))
              .otherwise(0L)).as("b"))
        val margins = cells.agg(sum(col("a")).as("ta"),
          sum(col("b")).as("tb"), count(lit(1)).as("k"))
        val critCase = ChiSqCrit.sparkCase("k - 1", "mood_median")
        cells.join(broadcast(margins))
          .withColumn("nn", (col("ta") + col("tb")).cast("double"))
          .withColumn("ea",
            (col("a") + col("b")).cast("double") *
              col("ta").cast("double") / col("nn"))
          .withColumn("eb",
            (col("a") + col("b")).cast("double") *
              col("tb").cast("double") / col("nn"))
          .withColumn("term",
            when(col("ea") > 0d && col("eb") > 0d,
              (col("a").cast("double") - col("ea")) *
                (col("a").cast("double") - col("ea")) / col("ea") +
                (col("b").cast("double") - col("eb")) *
                  (col("b").cast("double") - col("eb")) / col("eb"))
              .otherwise(lit(0.0d)))
          .groupBy()
          .agg(max(col("k")).as("k"),
            sum(col("a") + col("b")).as("n_used"),
            sum(col("term").cast("decimal(30,14)")).cast("double")
              .as("chi2"))
          .join(broadcast(med))
          .withColumn("crit", expr(critCase))
          .select(col("n_used"), col("k"), col("med2"),
            round(col("chi2"), 6).as("chi2_r"),
            round(col("crit"), 6).as("crit_r"),
            (col("chi2") > col("crit")).as("significant"))
      }
    },
    Some(s"""
      WITH obs AS (
        SELECT o_orderpriority AS grp,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT) AS v
        FROM orders),
      byval AS (SELECT v, COUNT(*) AS t FROM obs GROUP BY v),
      ranked AS (
        SELECT v, t,
               COALESCE(SUM(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum,
               SUM(t) OVER () AS n
        FROM byval),
      med AS (
        SELECT CAST(SUM(
          CASE WHEN cum < (n + 1) // 2 AND cum + t >= (n + 1) // 2
            THEN v ELSE 0 END +
          CASE WHEN cum < n // 2 + 1 AND cum + t >= n // 2 + 1
            THEN v ELSE 0 END) AS BIGINT) AS med2
        FROM ranked),
      cells AS (
        SELECT o.grp,
               CAST(SUM(CASE WHEN o.v * 2 > m.med2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS a,
               CAST(SUM(CASE WHEN o.v * 2 < m.med2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS b
        FROM obs o CROSS JOIN med m
        WHERE o.v * 2 <> m.med2
        GROUP BY o.grp),
      margins AS (
        SELECT SUM(a) AS ta, SUM(b) AS tb, COUNT(*) AS k FROM cells),
      folded AS (
        SELECT MAX(m.k) AS k,
               CAST(SUM(c.a + c.b) AS BIGINT) AS n_used,
               CAST(SUM(CAST(
                 CASE WHEN CAST(c.a + c.b AS DOUBLE)
                        * CAST(m.ta AS DOUBLE)
                        / CAST(m.ta + m.tb AS DOUBLE) > 0
                       AND CAST(c.a + c.b AS DOUBLE)
                        * CAST(m.tb AS DOUBLE)
                        / CAST(m.ta + m.tb AS DOUBLE) > 0
                 THEN (CAST(c.a AS DOUBLE) - CAST(c.a + c.b AS DOUBLE)
                     * CAST(m.ta AS DOUBLE) / CAST(m.ta + m.tb AS DOUBLE))
                   * (CAST(c.a AS DOUBLE) - CAST(c.a + c.b AS DOUBLE)
                     * CAST(m.ta AS DOUBLE) / CAST(m.ta + m.tb AS DOUBLE))
                   / (CAST(c.a + c.b AS DOUBLE) * CAST(m.ta AS DOUBLE)
                     / CAST(m.ta + m.tb AS DOUBLE))
                   + (CAST(c.b AS DOUBLE) - CAST(c.a + c.b AS DOUBLE)
                     * CAST(m.tb AS DOUBLE) / CAST(m.ta + m.tb AS DOUBLE))
                   * (CAST(c.b AS DOUBLE) - CAST(c.a + c.b AS DOUBLE)
                     * CAST(m.tb AS DOUBLE) / CAST(m.ta + m.tb AS DOUBLE))
                   / (CAST(c.a + c.b AS DOUBLE) * CAST(m.tb AS DOUBLE)
                     / CAST(m.ta + m.tb AS DOUBLE))
                 ELSE 0.0 END AS DECIMAL(30,14))) AS DOUBLE) AS chi2
        FROM cells c CROSS JOIN margins m)
      SELECT f.n_used, f.k, d.med2, round(f.chi2, 6) AS chi2_r,
             round(${ChiSqCrit.duckCase("f.k - 1", "mood_median")}, 6)
               AS crit_r,
             f.chi2 > ${ChiSqCrit.duckCase("f.k - 1", "mood_median")}
               AS significant
      FROM folded f CROSS JOIN med d
    """))

  val all: Seq[GraftQuery] = Seq(q271)
}
