package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X214 — Kruskal–Wallis H test (Kruskal & Wallis 1952): the k-group
  * generalization of X101's two-arm rank-sum — do order totals differ
  * in DISTRIBUTION across the five order priorities, rank-based and
  * heavy-tail-robust where X203's ANOVA tests means. The missing
  * middle of the nonparametric ladder: q149 compares two arms, q238
  * compares k group MEANS; this compares k groups by stochastic
  * dominance.
  *
  * Determinism: the q149 doubled-rank discipline — per distinct value
  * the doubled average rank 2·cum + t + 1 is an exact long, so every
  * doubled group rank-sum R2_g and the tie census Σ(t³−t) are exact
  * longs. H's group-term sum Σ R_g²/n_g crosses an aggregation
  * boundary as a double, so it travels as DECIMAL(30,14) (the
  * q162/q95 recipe — associative under any partitioning); H, the tie
  * correction, and the df-indexed χ² critical value are then one
  * fixed double tree. All-values-tied (correction C = 0) → NULL.
  *
  * Scale shape: the rank machinery is q149's two-level bucketed
  * prefix sum ([[RankSum.prefixSums]], shared code) — no global
  * single-partition window; group sums land on the |groups × values|
  * frame, the final H on a k-row frame.
  */
object KruskalWallis {

  /** χ²(0.95, df) critical values, df = 1..12, embedded as literals
    * (the X147/X197 discipline). A grouping column with MORE than 13
    * levels is out of this table's contract: the CASE below ends in an
    * explicit raise_error/error() (ADVICE r18 — no silent NULL
    * verdict), so both engines fail loudly instead of reporting
    * `significant = NULL`. Extend the table to admit wider groupings.
    */
  private val Crit950 = Seq(3.841458820694124, 5.991464547107979,
    7.814727903251179, 9.487729036781154, 11.070497693516351,
    12.591587243743977, 14.067140449340165, 15.507313055865446,
    16.918977604620444, 18.307038053275143, 19.675137572682488,
    21.026069817483055)

  /** q247 — H test of o_totalprice across the five order priorities. */
  val q247 = GraftQuery(
    "q247_kruskal_wallis", {
      (s, d) => {
        val obs = t(s, d, "orders")
          .select(col("o_orderpriority").as("grp"),
            col("o_totalprice").cast("double").as("v"))
        val byVal = obs.groupBy(col("v")).agg(count(lit(1)).as("t"))
        val ranked = RankSum.prefixSums(byVal, col("v"),
          Seq(col("t") -> "cum"), col("v"))
          .withColumn("r2", lit(2L) * col("cum") + col("t") + 1L)
          .select(col("v"), col("r2"))
        val perGrp = obs.groupBy(col("grp"), col("v"))
          .agg(count(lit(1)).as("m"))
          .join(ranked, "v")
          .groupBy(col("grp"))
          .agg(sum(col("m")).as("n_g"),
            sum(col("m") * col("r2")).as("r2_g"))
        val totals = byVal.agg(sum(col("t")).as("n"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties3"))
        val critCase = Crit950.zipWithIndex
          .map { case (c, i) => s"WHEN k - 1 = ${i + 1} THEN ${c}d" }
          .mkString("CASE ",
            " ",
            " ELSE raise_error('kruskal_wallis: df = k - 1 exceeds the" +
              " embedded chi-square table (df <= " +
              s"${Crit950.size}) — extend Crit950') END")
        perGrp.join(broadcast(totals))
          // R_g = R2_g/2 → R_g²/n_g = R2_g²/(4·n_g); longs < 2^53 cast
          // exactly, the square is one shared IEEE tree
          .withColumn("term",
            (col("r2_g").cast("double") * col("r2_g").cast("double")) /
              (lit(4.0d) * col("n_g").cast("double")))
          .groupBy()
          .agg(count(lit(1)).as("k"),
            sum(col("term").cast("decimal(30,14)")).cast("double")
              .as("sum_terms"),
            max(col("n")).as("n"), max(col("ties3")).as("ties3"))
          .withColumn("h",
            lit(12.0d) / (col("n").cast("double") *
              (col("n").cast("double") + 1.0d)) * col("sum_terms") -
              lit(3.0d) * (col("n").cast("double") + 1.0d))
          .withColumn("c_ties",
            lit(1.0d) - col("ties3").cast("double") /
              (col("n").cast("double") *
                (col("n").cast("double") * col("n").cast("double") -
                  1.0d)))
          .withColumn("h_adj",
            when(col("c_ties") > 0d, col("h") / col("c_ties")))
          .withColumn("crit", expr(critCase))
          .select(col("n"), col("k"), round(col("h"), 6).as("h_r"),
            round(col("h_adj"), 6).as("h_adj_r"),
            (col("h_adj") > col("crit")).as("significant"))
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
      folded AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(CAST(
                 CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                   / (4.0 * CAST(n_g AS DOUBLE))
                 AS DECIMAL(30,14))) AS DOUBLE) AS sum_terms,
               MAX(n) AS n, MAX(ties3) AS ties3
        FROM pergrp CROSS JOIN totals),
      fin AS (
        SELECT n, k,
               12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                 * sum_terms - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
               1.0 - CAST(ties3 AS DOUBLE) / (CAST(n AS DOUBLE)
                 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))
                 AS c_ties,
               ${Crit950.zipWithIndex.map { case (c, i) =>
                 s"WHEN k - 1 = ${i + 1} THEN $c" }
                 .mkString("CASE ", " ",
                   " ELSE CAST(error('kruskal_wallis: df out of" +
                     " table') AS DOUBLE) END")} AS crit
        FROM folded)
      SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             round(h, 6) AS h_r,
             round(CASE WHEN c_ties > 0 THEN h / c_ties END, 6)
               AS h_adj_r,
             CASE WHEN c_ties > 0 THEN h / c_ties END > crit
               AS significant
      FROM fin
    """))

  val all: Seq[GraftQuery] = Seq(q247)
}
