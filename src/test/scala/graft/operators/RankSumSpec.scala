package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[RankSum]] (X101) oracles: the distributed two-level-prefix U
  * statistic must equal a driver-side brute computation exactly
  * (doubled-rank integers), a planted location shift must trip the
  * z gate in the right direction, and a same-distribution split must
  * not.
  */
class RankSumSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Run q149's builder over an injected (user_id, value) frame by
    * writing it as an events table in a scratch dir.
    */
  private def run(rows: Seq[(Long, Double)]): (Long, Long, Long, Double) = {
    val dir = tmpDir("ranksum")
    rows.toDF("user_id", "value")
      .withColumn("event_id", col("user_id"))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("event_type", lit("e"))
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = RankSum.q149.build(spark, dir).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
  }

  /** Driver-side brute doubled-U: doubled average rank of a tie block
    * is min+max of its 1-based ranks (always an integer).
    */
  private def bruteU2A(rows: Seq[(Long, Double)]): Long = {
    val sorted = rows.sortBy(_._2)
    val r2 = sorted.map(_._2).zipWithIndex.groupBy(_._1).view
      .mapValues(idx => idx.map(_._2 + 1L))
      .mapValues(rs => rs.min + rs.max).toMap
    val rs2a = rows.filter(_._1 % 2 == 0).map(r => r2(r._2)).sum
    val nA = rows.count(_._1 % 2 == 0).toLong
    rs2a - nA * (nA + 1)
  }

  test("doubled U equals the driver-side brute computation exactly, " +
      "ties included") {
    // heavy ties: values on a 5-point grid, interleaved groups
    val rows = (0 until 200).map(i => (i.toLong, (i * 7 % 5).toDouble))
    val (na, nb, u2a, _) = run(rows)
    assert(na === 100L && nb === 100L)
    assert(u2a === bruteU2A(rows), "distributed U != brute U")
  }

  test("planted location shift trips the gate; same distribution does not") {
    // arm A (even ids) shifted +2: A stochastically dominates → U_A
    // large → z positive and significant
    val shifted = (0 until 400).map { i =>
      val base = (i % 37).toDouble / 7.0
      (i.toLong, if (i % 2 == 0) base + 2.0 else base)
    }
    val (_, _, _, zShift) = run(shifted)
    assert(zShift > 5.0, s"planted shift z=$zShift should be large positive")
    // identical distribution in both arms → |z| small
    val same = (0 until 400).map(i => (i.toLong, (i % 37).toDouble / 7.0))
    val (_, _, _, zSame) = run(same)
    assert(math.abs(zSame) < 1.0, s"null split z=$zSame should be ~0")
  }

  test("bucketed prefix sum is invariant to the bucket count (the " +
      "two-level decomposition changes the plan, not the ranks)") {
    val rows = (0 until 300).map(i =>
      (i.toLong, math.sin(i.toDouble) * 100))
    val (_, _, u2a, z) = run(rows)
    assert(u2a === bruteU2A(rows))
    assert(!z.isNaN)
  }

  /** [[RankSum.prefixSums]] against the brute single-partition window
    * over the same total order (k, id), three lanes at once; also
    * pins that no bucket/offset column leaks into the output.
    */
  private def assertKernelMatches(rows: Seq[(Long, Double, Long, Long, Long)]) = {
    val df = rows.toDF("id", "k", "x", "y", "z")
    val lanes = Seq(col("x") -> "cx", col("y") -> "cy", col("z") -> "cz")
    val order = Seq(col("k"), col("id"))
    val got = RankSum.prefixSums(df, col("k"), lanes, order: _*)
    val w = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = lanes.foldLeft(df) { case (acc, (x, name)) =>
      acc.withColumn(name, coalesce(sum(x).over(w), lit(0L)))
    }
    assert(got.columns.toSeq === want.columns.toSeq)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().toSeq.sortBy(_.getLong(0))
    assert(sorted(got) === sorted(want))
  }

  test("prefixSums ≡ a single-partition Window.orderBy reference: " +
      "ties, one distinct value, >1024 values over many buckets, three " +
      "lanes, an empty frame") {
    // heavy ties: 7 keys, tie-broken by id within the bucket window;
    // signed lanes (the q198 ±1 deltas)
    assertKernelMatches((0 until 300).map(i =>
      (i.toLong, (i * 11 % 7).toDouble, (i % 3 - 1).toLong, 1L, i.toLong)))
    // one distinct value: zero span, a single bucket
    assertKernelMatches((0 until 50).map(i =>
      (i.toLong, 4.5d, i.toLong, (i % 2).toLong, -1L)))
    // 3000 distinct keys, uneven spacing: hundreds of buckets
    val wide = (0 until 3000).map(i =>
      (i.toLong, math.pow(i.toDouble, 1.5) - 7000d, (i % 5).toLong,
        (i % 11 - 5).toLong, (i / 3).toLong))
    val buckets = RankSum.withRangeBucket(
      wide.toDF("id", "k", "x", "y", "z"), col("k"))
      .select(col("bkt")).distinct().count()
    assert(buckets > 500, s"planted keys landed in only $buckets buckets")
    assertKernelMatches(wide)
    assertKernelMatches(Seq.empty)
  }
}
