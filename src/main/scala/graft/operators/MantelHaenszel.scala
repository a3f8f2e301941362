package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X229 — Mantel–Haenszel pooled odds ratio (Mantel & Haenszel, JNCI
  * 1959) with the Robins–Breslow–Greenland variance (Biometrics
  * 1986): the stratified 2×2 A/B reader — "is high order value
  * associated with fulfillment, AFTER controlling for month?" Naive
  * pooling of 2×2 tables is exactly where Simpson's paradox lives
  * (month is a confounder of both value mix and fulfillment); the MH
  * estimator pools the per-stratum odds ratios inverse-variance-ish
  * without ever fitting a model, and RBG gives its CI. Companion to
  * q142 (two-proportion z, unstratified) and q146 (CUPED, continuous
  * outcome).
  *
  * Strata: order month. Exposure: o_totalprice ≥ 150,000 (a fixed
  * threshold — no data-dependent median, the determinism rule).
  * Outcome: o_orderstatus = 'F'.
  *
  * Determinism: per-stratum cells are exact longs; the per-stratum
  * MH terms R = ad/N, S = bc/N and the RBG terms PR, PS+QR, QS are
  * each ONE fixed double tree per stratum, and they cross the final
  * aggregation as DECIMAL(30,14) (the q162 lane recipe — exact,
  * associative, partition-order-free). ln/exp/sqrt then ride single
  * shared trees over those sums (the q134 rule), rounded at 6 dp.
  * ΣR = 0 or ΣS = 0 → NULL estimate (stated).
  *
  * Scale shape: one scan → one |months|-row groupBy (months grow with
  * wall time, not volume — the X202 economics) → a 1-row decimal
  * fold.
  */
object MantelHaenszel {

  /** Fixed exposure threshold (deci-free constant). */
  val HighValue = 150000d

  /** Per-month 2×2 cell census over an orders frame — shared with
    * q284 [[BreslowDay]], which tests the same strata for homogeneity.
    */
  def cells(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def c(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    orders
      .select(date_trunc("month", col("o_orderdate")).as("mth"),
        (col("o_totalprice") >= HighValue).as("e"),
        (col("o_orderstatus") === "F").as("y"))
      .groupBy(col("mth"))
      .agg(c(col("e") && col("y")).as("a"),
        c(col("e") && !col("y")).as("b"),
        c(!col("e") && col("y")).as("cc"),
        c(!col("e") && !col("y")).as("dd"))
  }

  /** The pooled estimate + RBG CI over a cell frame. */
  def pooled(cellFrame: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val strata = cellFrame
      .withColumn("nn",
        col("a") + col("b") + col("cc") + col("dd"))
      .withColumn("r",
            col("a").cast("double") * col("dd").cast("double") /
              col("nn").cast("double"))
          .withColumn("ss",
            col("b").cast("double") * col("cc").cast("double") /
              col("nn").cast("double"))
          .withColumn("p",
            (col("a") + col("dd")).cast("double") / col("nn").cast("double"))
          .withColumn("q",
            (col("b") + col("cc")).cast("double") / col("nn").cast("double"))
        def dlane(x: org.apache.spark.sql.Column) =
          sum(x.cast("decimal(30,14)")).cast("double")
        val folded = strata.agg(
          count(lit(1)).as("n_strata"),
          dlane(col("r")).as("sr"), dlane(col("ss")).as("sss"),
          dlane(col("p") * col("r")).as("spr"),
          dlane(col("p") * col("ss") + col("q") * col("r")).as("spsqr"),
          dlane(col("q") * col("ss")).as("sqs"))
        folded
          .withColumn("or_mh",
            when(col("sr") > 0d && col("sss") > 0d,
              col("sr") / col("sss")))
          .withColumn("var_ln",
            when(col("sr") > 0d && col("sss") > 0d,
              col("spr") / (lit(2.0d) * col("sr") * col("sr")) +
                col("spsqr") / (lit(2.0d) * col("sr") * col("sss")) +
                col("sqs") / (lit(2.0d) * col("sss") * col("sss"))))
          .select(col("n_strata"),
            round(col("or_mh"), 6).as("or_mh_r"),
            round(exp(log(col("or_mh")) -
              lit(1.959964d) * sqrt(col("var_ln"))), 6).as("ci_lo"),
            round(exp(log(col("or_mh")) +
              lit(1.959964d) * sqrt(col("var_ln"))), 6).as("ci_hi"),
            (round(exp(log(col("or_mh")) -
              lit(1.959964d) * sqrt(col("var_ln"))), 6) > 1.0d ||
              round(exp(log(col("or_mh")) +
                lit(1.959964d) * sqrt(col("var_ln"))), 6) < 1.0d)
              .as("significant"))
  }

  /** q261 — MH pooled odds ratio of (high value → fulfilled) across
    * months.
    */
  val q261 = GraftQuery(
    "q261_mantel_haenszel",
    (s, d) => pooled(cells(t(s, d, "orders"))),
    Some(s"""
      WITH strata AS (
        SELECT date_trunc('month', o_orderdate) AS mth,
               CAST(SUM(CASE WHEN o_totalprice >= 150000 AND
                 o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN o_totalprice >= 150000 AND
                 o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN o_totalprice < 150000 AND
                 o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cc,
               CAST(SUM(CASE WHEN o_totalprice < 150000 AND
                 o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS dd,
               COUNT(*) AS nn
        FROM orders GROUP BY 1),
      terms AS (
        SELECT CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
                 / CAST(nn AS DOUBLE) AS r,
               CAST(b AS DOUBLE) * CAST(cc AS DOUBLE)
                 / CAST(nn AS DOUBLE) AS ss,
               CAST(a + dd AS DOUBLE) / CAST(nn AS DOUBLE) AS p,
               CAST(b + cc AS DOUBLE) / CAST(nn AS DOUBLE) AS q
        FROM strata),
      folded AS (
        SELECT COUNT(*) AS n_strata,
               CAST(SUM(CAST(r AS DECIMAL(30,14))) AS DOUBLE) AS sr,
               CAST(SUM(CAST(ss AS DECIMAL(30,14))) AS DOUBLE) AS sss,
               CAST(SUM(CAST(p * r AS DECIMAL(30,14))) AS DOUBLE) AS spr,
               CAST(SUM(CAST(p * ss + q * r AS DECIMAL(30,14)))
                 AS DOUBLE) AS spsqr,
               CAST(SUM(CAST(q * ss AS DECIMAL(30,14))) AS DOUBLE) AS sqs
        FROM terms),
      stats AS (
        SELECT n_strata,
               CASE WHEN sr > 0 AND sss > 0 THEN sr / sss END AS or_mh,
               CASE WHEN sr > 0 AND sss > 0 THEN
                 spr / (2.0 * sr * sr) + spsqr / (2.0 * sr * sss)
                   + sqs / (2.0 * sss * sss) END AS var_ln
        FROM folded)
      SELECT n_strata,
             round(or_mh, 6) AS or_mh_r,
             round(exp(ln(or_mh) - 1.959964 * sqrt(var_ln)), 6) AS ci_lo,
             round(exp(ln(or_mh) + 1.959964 * sqrt(var_ln)), 6) AS ci_hi,
             (round(exp(ln(or_mh) - 1.959964 * sqrt(var_ln)), 6) > 1.0
              OR round(exp(ln(or_mh) + 1.959964 * sqrt(var_ln)), 6)
                 < 1.0) AS significant
      FROM stats
    """))

  val all: Seq[GraftQuery] = Seq(q261)
}
