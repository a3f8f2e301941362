package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X117 — χ² independence test between two categorical columns: the
  * TFX-style categorical-drift / label-leakage gate the monitoring
  * tier still lacked — X103's Hellinger compares ONE distribution
  * across dumps, X108's κ measures agreement between two JUDGES of the
  * same item; this asks whether two FACTORS of the same rows are
  * associated at all (user segment × event mix, source × label,
  * shard × language). A pipeline whose event mix suddenly depends on
  * the user segment, or whose labels depend on the source, has a
  * stratification bug upstream.
  *
  * Determinism: the contingency table is exact integer counts from ONE
  * map-side-combined pass; each expected cell rt·ct/n and deviation
  * (o−e)²/e is a shared double tree over exact longs; χ² sums the
  * per-cell deviations as DECIMAL(30,14) — the q95 recipe, associative
  * under any partitioning where a double Σ is not (cells are
  * data-dependent, so the fixed-order pivot q159/q160 use is not
  * available).
  *
  * Scale shape: corpus work is the one groupBy to the |A|·|B| cell
  * frame; margins, χ², and dof all run on that planning frame.
  */
object ChiSquareDrift {

  /** The χ² cell grid of factor columns `a` × `b` over `pairs` (one
    * row per observation): one row per cell of the FULL |A|·|B| grid
    * with its count `obs`, row/column margins `rt`/`ct`, total `n`,
    * expected count `expd` = rt·ct/n and deviation `dev` = (o−e)²/e.
    * Shared by [[independence]] and [[CramersV]].
    */
  private[operators] def cellGrid(pairs: org.apache.spark.sql.DataFrame,
      a: String, b: String): org.apache.spark.sql.DataFrame = {
    val observed = pairs.groupBy(col(a), col(b))
      .agg(count(lit(1)).as("obs"))
    // UNOBSERVED cells are evidence too: a zero cell contributes
    // (0−e)²/e = e, and dropping it understates dependence (a fully
    // dependent 3×3 diagonal would score 400 instead of the correct
    // 600 — caught by the planted spec). Materialize the full
    // |A|·|B| grid; both factor domains are dimension-sized.
    val cells = observed.select(col(a)).distinct()
      .crossJoin(observed.select(col(b)).distinct())
      .join(observed, Seq(a, b), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
    val rt = cells.groupBy(col(a)).agg(sum(col("obs")).as("rt"))
    val ct = cells.groupBy(col(b)).agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).as("n"))
    cells
      .join(broadcast(rt), a).join(broadcast(ct), b)
      .join(broadcast(tot))
      .withColumn("expd", col("rt").cast("double") *
        col("ct").cast("double") / col("n").cast("double"))
      .withColumn("dev",
        (col("obs").cast("double") - col("expd")) *
          (col("obs").cast("double") - col("expd")) / col("expd"))
  }

  /** The test over a frame of (segment, event_type) factor pairs —
    * one row per observation.
    */
  def independence(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val per = cellGrid(pairs, "segment", "event_type")
    val chi = per.agg(
      sum(col("dev").cast("decimal(30,14)")).cast("double")
        .as("chi2"),
      ((countDistinct(col("segment")) - 1) *
        (countDistinct(col("event_type")) - 1)).as("dof"))
    per.join(broadcast(chi))
      .select(col("segment"), col("event_type"), col("obs"),
        // exp rendered from integer centi-units (half-up), not
        // round() on the double — rt·ct/n lands exactly on .xx5
        // boundaries where the engines' round() diverge (the q111
        // trap; it bit this query at sf0.01). rt·ct·200 < 2⁶³
        // through sf10; the decimal upgrade path is documented on
        // q122's bound.
        (expr("(rt * ct * 200 + n) div (2 * n)").cast("double")
          / 100.0d).as("exp_r"),
        round(col("dev"), 6).as("dev_r"),
        round(col("chi2"), 6).as("chi2_r"), col("dof"))
      .orderBy(col("segment"), col("event_type"))
  }

  /** q162 — user segment (user_id mod 4) × event_type independence. */
  val q162 = GraftQuery(
    "q162_chisq_independence", {
      (s, d) =>
        independence(t(s, d, "events")
          .select(pmod(col("user_id"), lit(4L)).as("segment"),
            col("event_type")))
    },
    Some("""
      WITH observed AS (
        SELECT user_id % 4 AS segment, event_type, COUNT(*) AS obs
        FROM events GROUP BY 1, 2),
      -- zero cells contribute (0-e)^2/e = e; the full grid must exist
      cells AS (
        SELECT s.segment, t.event_type,
               CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs
        FROM (SELECT DISTINCT segment FROM observed) s
        CROSS JOIN (SELECT DISTINCT event_type FROM observed) t
        LEFT JOIN observed o
          ON o.segment = s.segment AND o.event_type = t.event_type),
      rt AS (SELECT segment, CAST(SUM(obs) AS BIGINT) AS rt
             FROM cells GROUP BY 1),
      ct AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS ct
             FROM cells GROUP BY 1),
      tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
      per AS (
        SELECT c.segment, c.event_type, c.obs, r.rt, t.ct, n.n,
               CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
                 / CAST(n.n AS DOUBLE) AS expd,
               (CAST(c.obs AS DOUBLE) - CAST(r.rt AS DOUBLE)
                  * CAST(t.ct AS DOUBLE) / CAST(n.n AS DOUBLE))
                 * (CAST(c.obs AS DOUBLE) - CAST(r.rt AS DOUBLE)
                    * CAST(t.ct AS DOUBLE) / CAST(n.n AS DOUBLE))
                 / (CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE)
                    / CAST(n.n AS DOUBLE)) AS dev
        FROM cells c
        JOIN rt r ON r.segment = c.segment
        JOIN ct t ON t.event_type = c.event_type
        CROSS JOIN tot n),
      chi AS (
        SELECT CAST(SUM(CAST(dev AS DECIMAL(30,14))) AS DOUBLE) AS chi2,
               CAST((COUNT(DISTINCT segment) - 1)
                 * (COUNT(DISTINCT event_type) - 1) AS BIGINT) AS dof
        FROM per)
      SELECT p.segment, p.event_type, p.obs,
             CAST((p.rt * p.ct * 200 + p.n) // (2 * p.n) AS DOUBLE)
               / 100.0 AS exp_r,
             round(p.dev, 6) AS dev_r,
             round(c.chi2, 6) AS chi2_r, c.dof
      FROM per p CROSS JOIN chi c
      ORDER BY p.segment, p.event_type
    """))

  val all: Seq[GraftQuery] = Seq(q162)
}
