package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Q._

/** X236 — Jonckheere–Terpstra ordered-alternative test (Terpstra 1952;
  * Jonckheere, Biometrika 1954): k ordered groups, H₁ "the
  * distributions shift monotonically with the order" — the rank test
  * q247's Kruskal–Wallis leaves on the table when the grouping has a
  * direction (priority grades, dose levels, cohort age). J is the sum
  * over ordered group pairs i<j of Mann–Whitney U_ij counts, so the
  * whole statistic is pairwise "later group wins" counts — computed
  * here with NO pair face at all: per distinct value, the per-group
  * strictly-below cumulatives come from the q149 two-level bucketed
  * prefix swap (shared [[RankSum.prefixSums]]), and J folds as
  * Σ_v Σ_{i<j} [n_j(v)·2C_i(v) + n_j(v)·n_i(v)] (ties count ½, kept
  * doubled — the q149 discipline).
  *
  * Determinism: all counts/cumulatives exact longs; doubled J2 exact;
  * z = (2·J2 − (N² − Σn_g²)) / (4·√Var) with the textbook no-tie
  * variance Var = [N²(2N+3) − Σn_g²(2n_g+3)]/72 taken in doubles
  * (stated: Lehmann's tie-corrected variance is not applied; ties on
  * this price-valued surface are rare and enter J exactly). Groups =
  * the five priorities (leading digit), order 1-URGENT → 5-LOW.
  *
  * Scale shape: one scan → the |distinct values| frame with k count
  * columns → the two-level prefix (bucket partials + ≤1025-row
  * offsets + bucket-partitioned window) → a 1-row fold. No
  * single-partition window, no join wider than the offsets broadcast.
  */
object JonckheereTerpstra {

  val Groups = 5

  private val CritZ = 1.959964d

  /** q268 — JT trend of order totalprice across priority levels. */
  val q268 = GraftQuery(
    "q268_jonckheere", {
      (s, d) => {
        val gs = 1 to Groups
        val obs = t(s, d, "orders")
          .select(substring(col("o_orderpriority"), 1, 1).cast("long")
            .as("g"), col("o_totalprice").cast("double").as("v"))
        val byVal = obs.groupBy(col("v"))
          .agg(gs.map(g => sum(when(col("g") === g.toLong, 1L)
            .otherwise(0L)).as(s"n$g")).head,
            gs.map(g => sum(when(col("g") === g.toLong, 1L)
              .otherwise(0L)).as(s"n$g")).tail :+
              count(lit(1)).as("t"): _*)
        val cums = RankSum.prefixSums(byVal, col("v"),
          gs.map(g => col(s"n$g") -> s"c$g"), col("v"))
        val j2row: Column = gs.flatMap(i => gs.filter(_ > i).map { j =>
          col(s"n$j") * (lit(2L) * col(s"c$i")) +
            col(s"n$j") * col(s"n$i")
        }).reduce(_ + _)
        val foldCols = sum(j2row).as("j2") +:
          (gs.map(g => sum(col(s"n$g")).as(s"ng$g")) :+
            sum(col("t")).as("n"))
        val folded = cums.agg(foldCols.head, foldCols.tail: _*)
        val sn2: Column = gs.map(g =>
          col(s"ng$g").cast("double") * col(s"ng$g").cast("double"))
          .reduce(_ + _)
        val sn23: Column = gs.map(g =>
          col(s"ng$g").cast("double") * col(s"ng$g").cast("double") *
            (lit(2.0d) * col(s"ng$g").cast("double") + 3.0d))
          .reduce(_ + _)
        folded
          .withColumn("k",
            gs.map(g => when(col(s"ng$g") > 0L, 1).otherwise(0))
              .reduce(_ + _))
          .withColumn("varj",
            (col("n").cast("double") * col("n").cast("double") *
              (lit(2.0d) * col("n").cast("double") + 3.0d) - sn23) /
              72.0d)
          .withColumn("z",
            when(col("varj") > 0d,
              ((lit(2L) * col("j2")).cast("double") -
                (col("n").cast("double") * col("n").cast("double") -
                  sn2)) /
                (lit(4.0d) * sqrt(col("varj")))))
          .select(col("n"), col("k"), col("j2"),
            round(col("z"), 6).as("z_r"),
            (abs(round(col("z"), 6)) > CritZ).as("monotone"))
      }
    },
    Some {
      val gs = 1 to Groups
      val nCols = gs.map(g =>
        s"CAST(SUM(CASE WHEN g = $g THEN 1 ELSE 0 END) AS BIGINT) AS n$g")
        .mkString(",\n               ")
      val cumCols = gs.map(g =>
        s"COALESCE(SUM(n$g) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
          s"PRECEDING AND 1 PRECEDING), 0) AS c$g")
        .mkString(",\n               ")
      val j2 = gs.flatMap(i => gs.filter(_ > i).map(j =>
        s"n$j * (2 * c$i) + n$j * n$i")).mkString(" + ")
      val ngs = gs.map(g =>
        s"CAST(SUM(n$g) AS BIGINT) AS ng$g").mkString(", ")
      val sn2 = gs.map(g => s"CAST(ng$g AS DOUBLE) * CAST(ng$g AS DOUBLE)")
        .mkString(" + ")
      val sn23 = gs.map(g => s"CAST(ng$g AS DOUBLE) * CAST(ng$g AS " +
        s"DOUBLE) * (2.0 * CAST(ng$g AS DOUBLE) + 3.0)").mkString(" + ")
      val kExpr = gs.map(g => s"CASE WHEN ng$g > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH obs AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g,
               CAST(o_totalprice AS DOUBLE) AS v
        FROM orders),
      byval AS (
        SELECT v,
               $nCols,
               COUNT(*) AS t
        FROM obs GROUP BY v),
      cums AS (
        SELECT *,
               $cumCols
        FROM byval),
      folded AS (
        SELECT CAST(SUM($j2) AS BIGINT) AS j2,
               $ngs,
               CAST(SUM(t) AS BIGINT) AS n
        FROM cums),
      stats AS (
        SELECT n, j2, $kExpr AS k,
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * (2.0 * CAST(n AS DOUBLE) + 3.0) - ($sn23)) / 72.0
                 AS varj,
               $sn2 AS sn2
        FROM folded)
      SELECT n, CAST(k AS INTEGER) AS k, j2,
             CASE WHEN varj > 0 THEN
               round((CAST(2 * j2 AS DOUBLE)
                 - (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - sn2))
                 / (4.0 * sqrt(varj)), 6) END AS z_r,
             abs(CASE WHEN varj > 0 THEN
               round((CAST(2 * j2 AS DOUBLE)
                 - (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - sn2))
                 / (4.0 * sqrt(varj)), 6) END) > $CritZ AS monotone
      FROM stats
      """
    })

  val all: Seq[GraftQuery] = Seq(q268)
}
