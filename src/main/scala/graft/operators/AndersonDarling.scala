package graft.operators

import org.apache.spark.sql.functions._

import Q._

/** X250 — Anderson–Darling two-sample test (Anderson & Darling 1952;
  * two-sample form Pettitt 1976; k-sample ties treatment Scholz &
  * Stephens 1987): the TAIL-WEIGHTED member of the two-sample EDF
  * battery — q205's KS is the sup-norm (median-sensitive), q269's CvM
  * the unweighted L²; AD divides each EDF gap by B(N−B), so the same
  * absolute gap counts ~N/4× more in the extreme tails than at the
  * median. Distribution drift that shows up as heavy tails or
  * truncation (the failure mode that poisons p99 dashboards while
  * means stay flat) registers here first — the standard third opinion
  * alongside KS and CvM.
  *
  * Discrete form (Scholz–Stephens eq. 3 applied to the tie blocks,
  * right-continuous EDF): over distinct pooled values j with block
  * size lⱼ, pooled cumulative Bⱼ (INCLUDING the block) and per-arm
  * cumulative Mᵢⱼ,
  *   A² = (1/N)·Σᵢ (1/nᵢ)·Σ_{Bⱼ<N} lⱼ·(N·Mᵢⱼ − nᵢ·Bⱼ)²/(Bⱼ·(N−Bⱼ)).
  * Under H₀ A² has the same limit as the one-sample statistic
  * (Pettitt 1976), so the gate is the asymptotic 5 % point 2.492.
  *
  * Determinism: the (value → tie-block) census and both cumulative
  * lanes are exact longs from the two-level bucketed prefix swap
  * (shared [[RankSum.prefixSums]] — the q269 lanes, plus the block
  * itself for plus-block cumulatives); each block's two arm
  * terms are ONE fixed double tree over those longs (the q269
  * precedent — exact while N·M < 2⁵³, i.e. to ~9·10⁷ rows per arm,
  * bit-identical across engines beyond that because the tree is
  * identical); block terms sum as DECIMAL(38,6) lanes; the final A²
  * is one double expression. The last block (Bⱼ = N) is excluded by
  * construction (its EDF gap is identically 0 and the weight pole is
  * removed — the standard convention). Empty arm → NULL.
  *
  * Scale shape: one scan → the |distinct values| frame with three
  * count columns → bucket partials + ≤1025-row offsets broadcast + a
  * bucket-PARTITIONED window → a 1-row decimal fold. No
  * single-partition window over a corpus-growing frame, no pair face.
  */
object AndersonDarling {

  /** Asymptotic 5 % point of the one-sample A² limit distribution
    * (Anderson–Darling 1954 Table 1; applies two-sample per Pettitt
    * 1976).
    */
  private val Crit = 2.492d

  /** q278 — AD distance between the even/odd user arms on
    * events.value (the q205/q269 arms, so the battery reads side by
    * side).
    */
  val q278 = GraftQuery(
    "q278_anderson_darling", {
      (s, d) => {
        // eager census: the bucket swap and the totals fold both
        // consume it — without the checkpoint the corpus scan
        // re-executes per consumer (the q240 discipline)
        val byVal = graft.Checkpoints.eager(
          RankSum.armCensus(t(s, d, "events")))
        // plus-block cumulatives: the pre-block prefix + the block
        val cums = RankSum.prefixSums(byVal, col("v"),
          Seq(col("ta") -> "ca", col("tb") -> "cb", col("t") -> "ct"),
          col("v"))
          .withColumn("ma", col("ca") + col("ta"))
          .withColumn("mb", col("cb") + col("tb"))
          .withColumn("bb", col("ct") + col("t"))
        val totals = byVal.agg(sum(col("ta")).as("na"),
          sum(col("tb")).as("nb"), sum(col("t")).as("nn"))
        def term(m: org.apache.spark.sql.Column,
            narm: org.apache.spark.sql.Column) = {
          val diff = col("nn").cast("double") * m.cast("double") -
            narm.cast("double") * col("bb").cast("double")
          when(col("bb") < col("nn"),
            col("t").cast("double") * diff * diff /
              (col("bb").cast("double") *
                (col("nn") - col("bb")).cast("double")))
            .otherwise(lit(0.0d))
        }
        cums.join(broadcast(totals))
          .withColumn("term_a", term(col("ma"), col("na")))
          .withColumn("term_b", term(col("mb"), col("nb")))
          .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
            max(col("nn")).as("nn"),
            sum(col("term_a").cast("decimal(38,6)")).cast("double")
              .as("sa"),
            sum(col("term_b").cast("decimal(38,6)")).cast("double")
              .as("sb"))
          .withColumn("a2",
            when(col("n_a") > 0L && col("n_b") > 0L,
              round((col("sa") / col("n_a").cast("double") +
                col("sb") / col("n_b").cast("double")) /
                col("nn").cast("double"), 6)))
          .select(col("n_a"), col("n_b"), col("a2").as("a2_r"),
            (col("a2") > Crit).as("significant"))
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
               SUM(ta) OVER w AS ma,
               SUM(tb) OVER w AS mb,
               SUM(t) OVER w AS bb
        FROM byval
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      totals AS (
        SELECT CAST(SUM(ta) AS BIGINT) AS na,
               CAST(SUM(tb) AS BIGINT) AS nb,
               CAST(SUM(t) AS BIGINT) AS nn
        FROM byval),
      terms AS (
        SELECT c.t, c.bb, t2.na, t2.nb, t2.nn,
               CASE WHEN c.bb < t2.nn THEN
                 CAST(c.t AS DOUBLE)
                   * (CAST(t2.nn AS DOUBLE) * CAST(c.ma AS DOUBLE)
                      - CAST(t2.na AS DOUBLE) * CAST(c.bb AS DOUBLE))
                   * (CAST(t2.nn AS DOUBLE) * CAST(c.ma AS DOUBLE)
                      - CAST(t2.na AS DOUBLE) * CAST(c.bb AS DOUBLE))
                   / (CAST(c.bb AS DOUBLE)
                      * CAST(t2.nn - c.bb AS DOUBLE))
               ELSE 0.0 END AS term_a,
               CASE WHEN c.bb < t2.nn THEN
                 CAST(c.t AS DOUBLE)
                   * (CAST(t2.nn AS DOUBLE) * CAST(c.mb AS DOUBLE)
                      - CAST(t2.nb AS DOUBLE) * CAST(c.bb AS DOUBLE))
                   * (CAST(t2.nn AS DOUBLE) * CAST(c.mb AS DOUBLE)
                      - CAST(t2.nb AS DOUBLE) * CAST(c.bb AS DOUBLE))
                   / (CAST(c.bb AS DOUBLE)
                      * CAST(t2.nn - c.bb AS DOUBLE))
               ELSE 0.0 END AS term_b
        FROM cums c CROSS JOIN totals t2),
      folded AS (
        SELECT MAX(na) AS n_a, MAX(nb) AS n_b, MAX(nn) AS nn,
               CAST(SUM(CAST(term_a AS DECIMAL(38,6))) AS DOUBLE)
                 AS sa,
               CAST(SUM(CAST(term_b AS DECIMAL(38,6))) AS DOUBLE)
                 AS sb
        FROM terms)
      SELECT n_a, n_b,
             CASE WHEN n_a > 0 AND n_b > 0 THEN
               round((sa / CAST(n_a AS DOUBLE)
                      + sb / CAST(n_b AS DOUBLE))
                 / CAST(nn AS DOUBLE), 6)
             END AS a2_r,
             CASE WHEN n_a > 0 AND n_b > 0 THEN
               round((sa / CAST(n_a AS DOUBLE)
                      + sb / CAST(n_b AS DOUBLE))
                 / CAST(nn AS DOUBLE), 6)
             END > $Crit AS significant
      FROM folded
    """))

  val all: Seq[GraftQuery] = Seq(q278)
}
