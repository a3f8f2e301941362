package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X258 — Kuiper two-sample test (Kuiper 1960; two-sample treatment
  * and the V* point: Stephens 1970) between the user-parity arms on
  * events.value, completing the EDF battery: KS (q205) takes the one
  * largest gap, CvM (q269) the unweighted L², AD (q278) the
  * tail-weighted L² — Kuiper takes D⁺ + D⁻, which makes it equally
  * sensitive EVERYWHERE including both tails at once, and the only
  * member whose verdict is invariant under cyclic shifts (the test of
  * choice for hour-of-day/phase-like values where "start of the
  * axis" is a modelling accident).
  *
  * Determinism: the EDF gaps are EXACT integers — at census row v,
  * F̂ₐ−F̂_b = (Mₐ·n_b − M_b·nₐ)/(nₐn_b) with the plus-block
  * cumulatives from the two-level bucketed swap (the q278 lanes), so
  * D⁺ and D⁻ are integer max-folds and V = (max⁺ + max⁻)/(nₐ·n_b) is
  * ONE double division; the significance transform
  * λ = V·(√Nₑ + 0.155 + 0.24/√Nₑ), Nₑ = nₐn_b/N (Stephens 1970) and
  * its 5 % point 1.747 are single trees/literals on both engines.
  * The pre-first-value gap (both EDFs 0) is included by construction
  * (a zero row cannot win either max unless all gaps are ≤ 0, which
  * only happens when the max IS 0). Empty arm → NULL.
  *
  * Scale shape: one scan → the eager |distinct values| census →
  * bucket partials + ≤1025-row offsets broadcast → an integer max
  * fold. No single-partition window, no pair face.
  */
object KuiperTest {

  /** Stephens (1970) asymptotic 5 % point of λ. */
  private val Crit = 1.747d

  /** q289 — Kuiper V between the even/odd user arms on events.value. */
  val q289 = GraftQuery(
    "q289_kuiper", {
      (s, d) => {
        val byVal = graft.Checkpoints.eager(
          RankSum.armCensus(t(s, d, "events")))
        val totals = byVal.agg(sum(col("ta")).as("na"),
          sum(col("tb")).as("nb"))
        // plus-block cumulatives: the pre-block prefix + the block
        val cums = RankSum.prefixSums(byVal, col("v"),
          Seq(col("ta") -> "ca", col("tb") -> "cb"), col("v"))
          .withColumn("ma", col("ca") + col("ta"))
          .withColumn("mb", col("cb") + col("tb"))
        cums.join(broadcast(totals))
          .withColumn("gap", col("ma") * col("nb") -
            col("mb") * col("na"))
          .groupBy()
          .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
            greatest(max(col("gap")), lit(0L)).as("dplus"),
            greatest(-min(col("gap")), lit(0L)).as("dminus"))
          .withColumn("vstat",
            when(col("n_a") > 0L && col("n_b") > 0L,
              (col("dplus") + col("dminus")).cast("double") /
                (col("n_a").cast("double") * col("n_b").cast("double"))))
          .withColumn("ne",
            col("n_a").cast("double") * col("n_b").cast("double") /
              (col("n_a") + col("n_b")).cast("double"))
          .withColumn("lambda",
            col("vstat") * (sqrt(col("ne")) + lit(0.155d) +
              lit(0.24d) / sqrt(col("ne"))))
          .select(col("n_a"), col("n_b"),
            round(col("vstat"), 6).as("v_r"),
            round(col("lambda"), 6).as("lambda_r"),
            (col("lambda") > Crit).as("significant"))
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
                 AS tb
        FROM obs GROUP BY v),
      totals AS (
        SELECT CAST(SUM(ta) AS BIGINT) AS na,
               CAST(SUM(tb) AS BIGINT) AS nb
        FROM byval),
      cums AS (
        SELECT CAST(SUM(ta) OVER w AS BIGINT) AS ma,
               CAST(SUM(tb) OVER w AS BIGINT) AS mb
        FROM byval
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      gaps AS (
        SELECT c.ma * t.nb - c.mb * t.na AS gap, t.na, t.nb
        FROM cums c CROSS JOIN totals t),
      folded AS (
        SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
               greatest(CAST(MAX(gap) AS BIGINT), 0) AS dplus,
               greatest(CAST(-MIN(gap) AS BIGINT), 0) AS dminus
        FROM gaps),
      calc AS (
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 CAST(dplus + dminus AS DOUBLE)
                   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               END AS vstat,
               CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) AS ne
        FROM folded)
      SELECT n_a, n_b, round(vstat, 6) AS v_r,
             round(vstat * (sqrt(ne) + 0.155 + 0.24 / sqrt(ne)), 6)
               AS lambda_r,
             vstat * (sqrt(ne) + 0.155 + 0.24 / sqrt(ne)) > $Crit
               AS significant
      FROM calc
    """))

  val all: Seq[GraftQuery] = Seq(q289)
}
