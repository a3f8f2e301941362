package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Q._

/** X101 — Mann–Whitney U rank-sum test (Mann & Whitney 1947; the
  * Wilcoxon two-sample form): the NONPARAMETRIC A/B companion to q142
  * (two-proportion z) and q146 (CUPED means). Metric distributions in
  * data pipelines are heavy-tailed (latencies, doc lengths, revenue
  * per user), where the t-test's mean is fragile; the rank test asks
  * "does one arm stochastically dominate the other" and is the
  * standard robust gate.
  *
  * Determinism: everything up to the final z is INTEGER arithmetic —
  * ranks are kept doubled (2·avgrank = 2·cumBefore + ties + 1, always
  * an integer), so the doubled rank-sum and doubled U are exact longs
  * in both engines; the tie-correction term Σ(t³−t) is an exact long;
  * z is then one shared expression tree over exactly-represented
  * integers (products ≤ ~1e15 < 2^53) with a single sqrt (IEEE
  * correctly-rounded), rounded for report.
  *
  * Scale shape: ranking needs a global value order, but NOT a global
  * single-partition window — the cumulative count is computed with the
  * classic two-level prefix sum: distinct values are range-bucketed
  * (1024 buckets over the observed span), per-bucket totals (a
  * ≤1025-row planning frame) are cumulated with a bounded window and
  * broadcast back, and the within-bucket window is PARTITIONED by
  * bucket. Every corpus-sized stage is a hash agg or a
  * bucket-partitioned window; nothing funnels through one partition.
  */
object RankSum {

  /** Prefix-sum buckets. */
  val Buckets = 1024

  /** Range-bucket stage shared by every two-level prefix swap (r19):
    * adds `bkt` ∈ [0, [[Buckets]]), monotone NON-DECREASING in the
    * double column `v` — so the global order (v, ties…) equals
    * (bkt, within-bucket order) and any prefix aggregate splits into
    * bucket partials + a ≤[[Buckets]]+1-row offsets frame. `v` need
    * only be a monotone double PROJECTION of the true sort key (a
    * lossy cast is fine: collisions merely share a bucket; the
    * within-bucket window re-sorts on the exact columns).
    */
  private[operators] def withRangeBucket(
      df: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val span = df.agg(min(v).as("lo"), (max(v) - min(v)).as("w"))
    df.join(broadcast(span))
      // degenerate span (all values equal) → single bucket; the
      // ANSI cast would otherwise choke on floor(x/0) = Inf
      .withColumn("bkt", when(col("w") > 0d, least(lit(Buckets - 1),
        floor((v - col("lo")) / (col("w") / Buckets))
          .cast("int"))).otherwise(lit(0)))
      .drop("lo", "w")
  }

  /** The two-level bucketed EXCLUSIVE prefix sum every rank and EDF
    * test shares: for each lane `(x, name)` adds `name` — the sum of
    * `x` over all rows strictly before this one in the total order
    * (`order`…) — with NO global single-partition window. `v` is a
    * monotone double projection of the order's primary key
    * ([[withRangeBucket]]); per-bucket lane totals are cumulated on a
    * ≤[[Buckets]]+1-row offsets frame broadcast back, and the
    * within-bucket window is PARTITIONED by bucket. A caller that
    * needs the inclusive prefix adds its own lane value. Null sums
    * (an empty prefix) read 0.
    */
  private[operators] def prefixSums(
      df: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.Column,
      lanes: Seq[(org.apache.spark.sql.Column, String)],
      order: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame = {
    val bucketed = withRangeBucket(df, v)
    val wb = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val partials = lanes.zipWithIndex.map { case ((x, _), i) =>
      sum(x).as(s"bt_$i")
    }
    val offsets = bucketed.groupBy(col("bkt"))
      .agg(partials.head, partials.tail: _*)
      .select(col("bkt") +: lanes.indices.map(i =>
        coalesce(sum(col(s"bt_$i")).over(wb), lit(0L)).as(s"off_$i")): _*)
    val wv = Window.partitionBy(col("bkt")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    lanes.zipWithIndex
      .foldLeft(bucketed.join(broadcast(offsets), "bkt")) {
        case (acc, ((x, name), i)) => acc.withColumn(name,
          col(s"off_$i") + coalesce(sum(x).over(wv), lit(0L)))
      }
      .drop("bkt" +: lanes.indices.map(i => s"off_$i"): _*)
  }

  /** Per distinct `events.value` `v`: the even-user arm count `ta`,
    * the odd-user arm count `tb` and the tie total `t` — the census
    * the two-sample rank and EDF tests over the user-parity arms
    * share. Lazy: a caller whose census feeds several consumers
    * materializes it eagerly itself.
    */
  private[operators] def armCensus(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events
      .select(col("value").as("v"), pmod(col("user_id"), lit(2L)).as("g"))
      .groupBy(col("v"))
      .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("ta"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("tb"),
        count(lit(1)).as("t"))

  /** Global 1-based row_number over the total order (`order`…) with NO
    * single-partition window (VERDICT r18 item 1): per-bucket counts →
    * a ≤[[Buckets]]+1-row prefix frame broadcast back → a
    * bucket-PARTITIONED row_number. `v` must be a monotone double
    * projection of the order's primary key (negate for DESC). Adds
    * `rnName` (long); with `withTotal`, also `n_total` — the frame
    * count, computed on the offsets frame so NTILE-style consumers
    * don't re-scan.
    */
  private[operators] def bucketedRowNumber(
      df: org.apache.spark.sql.DataFrame,
      v: org.apache.spark.sql.Column, rnName: String,
      withTotal: Boolean,
      order: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame =
    bucketedRowNumbers(df, Seq(RankSpec(v, rnName, order)), withTotal)

  /** One rank dimension of [[bucketedRowNumbers]]: the monotone double
    * bucket key, the output column, and the exact total order.
    */
  private[operators] final case class RankSpec(
      v: org.apache.spark.sql.Column, rnName: String,
      order: Seq[org.apache.spark.sql.Column])

  /** N global row_numbers over N total orders in ONE flat pass (r19):
    * a single span aggregate covers every dimension's min/max, the
    * bucket columns land side by side on one frame, and each
    * dimension contributes one ≤[[Buckets]]+1-row offsets broadcast +
    * one bucket-PARTITIONED window — no nesting, so the base frame is
    * evaluated (1 span + N offsets + 1 main) times instead of 3^N.
    * `withTotal` attaches `n_total` from the FIRST dimension's
    * offsets frame.
    */
  private[operators] def bucketedRowNumbers(
      df: org.apache.spark.sql.DataFrame,
      specs: Seq[RankSpec], withTotal: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val spanAggs = specs.zipWithIndex.flatMap { case (sp, i) =>
      Seq(min(sp.v).as(s"lo_$i"), (max(sp.v) - min(sp.v)).as(s"w_$i"))
    }
    val span = df.agg(spanAggs.head, spanAggs.tail: _*)
    val bucketed = specs.zipWithIndex
      .foldLeft(df.join(broadcast(span))) { case (acc, (sp, i)) =>
        // degenerate span (all values equal) → single bucket; the
        // ANSI cast would otherwise choke on floor(x/0) = Inf
        acc.withColumn(s"bkt_$i", when(col(s"w_$i") > 0d,
          least(lit(Buckets - 1),
            floor((sp.v - col(s"lo_$i")) / (col(s"w_$i") / Buckets))
              .cast("int"))).otherwise(lit(0)))
      }
      .drop(specs.indices.flatMap(i => Seq(s"lo_$i", s"w_$i")): _*)
    val ranked = specs.zipWithIndex.foldLeft(bucketed) {
      case (acc, (sp, i)) =>
        val wb = Window.orderBy(col(s"bkt_$i"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets0 = bucketed.groupBy(col(s"bkt_$i"))
          .agg(count(lit(1)).as("bt"))
          .withColumn("off", coalesce(sum(col("bt")).over(wb), lit(0L)))
        val offsets =
          if (withTotal && i == 0) offsets0
            .withColumn("n_total", sum(col("bt")).over(
              Window.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)))
            .select(col(s"bkt_$i"), col("off"), col("n_total"))
          else offsets0.select(col(s"bkt_$i"), col("off"))
        val wv = Window.partitionBy(col(s"bkt_$i")).orderBy(sp.order: _*)
        acc.join(broadcast(offsets), s"bkt_$i")
          .withColumn(sp.rnName, col("off") + row_number().over(wv))
          .drop("off")
    }
    ranked.drop(specs.indices.map(i => s"bkt_$i"): _*)
  }

  /** SQL-standard NTILE(`k`) from a 1-based global row number and the
    * total count (both longs): the first n mod k tiles get ⌈n/k⌉
    * rows — the exact bucket rule Spark and DuckDB share. Pure
    * integer arithmetic (idiv via pmod is exact below 2^53; the
    * base-0 branch is never evaluated when n < k because When is
    * lazy), so the tile matches the engines' own NTILE bit-for-bit.
    */
  private[operators] def ntileOf(rn: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column = {
    def idiv(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      ((a - pmod(a, b)) / b).cast("long")
    val kl = lit(k.toLong)
    val base = idiv(n, kl)
    val rem = pmod(n, kl)
    val cut = rem * (base + lit(1L))
    (when(rn <= cut, idiv(rn - lit(1L), base + lit(1L)))
      .otherwise(rem + idiv(rn - cut - lit(1L), base)) + lit(1L))
      .cast("int")
  }

  /** q149 — U test of events.value between arms user_id%2 = 0 (A) and
    * 1 (B): doubled U for arm A, tie count, and the tie-corrected
    * normal-approximation z.
    */
  val q149 = GraftQuery(
    "q149_rank_sum_test", {
      (s, d) => {
        // per distinct value: total ties t and arm-A count ta
        val byVal = armCensus(t(s, d, "events"))
        // two-level prefix sum over value order
        val ranked = prefixSums(byVal, col("v"),
          Seq(col("t") -> "cum"), col("v"))
          // doubled average rank of this value's tie block — integer
          .withColumn("r2", lit(2L) * col("cum") + col("t") + 1L)
        val agg = ranked.agg(
          sum(col("ta")).as("n_a"), sum(col("t")).as("n"),
          sum(col("ta") * col("r2")).as("rs2a"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties3"))
        agg
          .withColumn("n_b", col("n") - col("n_a"))
          // doubled U_A = doubled rank-sum − n_a(n_a+1)  (exact long)
          .withColumn("u2_a", col("rs2a") - col("n_a") * (col("n_a") + 1L))
          .withColumn("var_u",
            col("n_a").cast("double") * col("n_b").cast("double") / 12.0d *
              ((col("n") + 1L).cast("double") -
                col("ties3").cast("double") /
                  (col("n").cast("double") * (col("n") - 1L).cast("double"))))
          // z = (U_A − n_a·n_b/2)/σ, kept doubled top and bottom
          .withColumn("z",
            (col("u2_a") - col("n_a") * col("n_b")).cast("double") /
              (lit(2.0d) * sqrt(col("var_u"))))
          .select(col("n_a"), col("n_b"), col("u2_a"),
            round(col("z"), 6).as("z_r"),
            (abs(col("z")) > 1.959964d).as("significant"))
      }
    },
    Some("""
      WITH ev AS (
        SELECT value AS v, user_id % 2 AS grp FROM events),
      byval AS (
        SELECT v, count(*) AS t,
               sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS na_v
        FROM ev GROUP BY v),
      ranked AS (
        SELECT t, na_v,
               coalesce(sum(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum
        FROM byval),
      agg AS (
        SELECT sum(na_v) AS n_a, sum(t) AS n,
               sum(na_v * (2 * cum + t + 1)) AS rs2a,
               sum(t * t * t - t) AS ties3
        FROM ranked),
      fin AS (
        SELECT n_a, n - n_a AS n_b,
               rs2a - n_a * (n_a + 1) AS u2_a,
               CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE) / 12.0 *
                 (CAST(n + 1 AS DOUBLE) - CAST(ties3 AS DOUBLE) /
                   (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS var_u,
               n, ties3
        FROM agg)
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(u2_a AS BIGINT) AS u2_a,
             round(CAST(u2_a - n_a * n_b AS DOUBLE) /
               (2.0 * sqrt(var_u)), 6) AS z_r,
             abs(CAST(u2_a - n_a * n_b AS DOUBLE) /
               (2.0 * sqrt(var_u))) > 1.959964 AS significant
      FROM fin
    """))

  val all: Seq[GraftQuery] = Seq(q149)
}
