package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[StratifiedSample]] (X173) oracles: quotas are the Hamilton
  * apportionment (floors + largest remainders, ties by stratum key)
  * and sum to EXACTLY n; membership is the h60-prefix per stratum, so
  * re-draws reproduce and a larger quota extends the prefix; the
  * sf0.001 draw replays on the driver. Also q120's per-source
  * bottom-k-by-hash sample ([[TrainPrepQueries.bottomKBatch]]).
  */
class StratifiedSampleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def h60(k1: Long, k2: Int): Long = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$k1:$k2:samp".getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Driver Hamilton quotas over stratum sizes (key-sorted ties). */
  private def hamilton(sizes: Map[String, Long], n: Long)
      : Map[String, Long] = {
    val total = sizes.values.sum
    val floors = sizes.map { case (g, nh) => g -> (n * nh) / total }
    val leftover = n - floors.values.sum
    val extra = sizes.toSeq
      .sortBy { case (g, nh) => (-((n * nh) % total), g) }
      .take(leftover.toInt).map(_._1).toSet
    floors.map { case (g, q) => g -> (q + (if (extra(g)) 1L else 0L)) }
  }

  private def rowsOf(sizes: Map[String, Long]) = {
    var id = 0L
    sizes.toSeq.sortBy(_._1).flatMap { case (g, nh) =>
      (0L until nh).map { _ =>
        id += 1
        (g, "x", id, 1)
      }
    }.toDF("g1", "g2", "k1", "k2")
  }

  test("quotas: floors + largest remainders, exactly n total") {
    // n=10 over sizes 7/2/1: exact shares 7, 2, 1 — all floors, no
    // remainder distribution
    val even = StratifiedSample
      .draw(rowsOf(Map("a" -> 7L, "b" -> 2L, "c" -> 1L)), 10L)
      .collect()
    assert(even.length === 10)
    // n=4 over 5/3/1: shares 20/9, 12/9, 4/9 → floors 2,1,0, remainders
    // 2/9, 3/9, 4/9 → the 1 leftover goes to c (largest remainder)
    val sizes = Map("a" -> 5L, "b" -> 3L, "c" -> 1L)
    val drawn = StratifiedSample.draw(rowsOf(sizes), 4L).collect()
      .groupBy(_.getAs[String]("g1")).map { case (g, rs) =>
        g -> rs.map(_.getAs[Long]("quota")).head
      }
    assert(drawn === hamilton(sizes, 4L))
    assert(drawn === Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("remainder ties break by stratum key: two equal strata, one " +
      "leftover — the lexicographically smaller key wins") {
    val drawn = StratifiedSample
      .draw(rowsOf(Map("a" -> 3L, "b" -> 3L)), 3L).collect()
      .groupBy(_.getAs[String]("g1"))
      .map { case (g, rs) => g -> rs.length }
    assert(drawn === Map("a" -> 2, "b" -> 1))
  }

  test("membership is the h60 prefix: the picked k1s are exactly the " +
      "quota-smallest hashes, and a larger quota extends the prefix") {
    val sizes = Map("a" -> 20L)
    def picked(n: Long): Seq[Long] = StratifiedSample
      .draw(rowsOf(sizes), n).collect()
      .sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("k1")).toSeq
    val all = (1L to 20L).sortBy(k => (h60(k, 1), k))
    assert(picked(5L) === all.take(5))
    assert(picked(12L) === all.take(12))
    assert(picked(5L) === picked(12L).take(5))
  }

  test("q212 at sf0.001: exactly min(n, rows) rows, quotas replay") {
    val rows = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_returnflag", "l_linestatus").collect()
      .map(r => r.getString(0) + "|" + r.getString(1))
    val sizes = rows.groupBy(identity)
      .map { case (g, v) => g -> v.size.toLong }
    val got = StratifiedSample.q212.build(spark, sf0001).collect()
    assert(got.length ===
      math.min(StratifiedSample.SampleN, rows.length.toLong))
    val quotas = got
      .groupBy(r => r.getAs[String]("g1") + "|" + r.getAs[String]("g2"))
      .map { case (g, rs) => g -> rs.map(_.getAs[Long]("quota")).head }
    val expect = hamilton(sizes, StratifiedSample.SampleN)
      .filter(_._2 > 0)
    assert(quotas === expect)
  }

  test("q120 bottom-k sample: per-source rank, partition-invariant") {
    val k = 4
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val a = TrainPrepQueries.bottomKBatch(docs, "source", "doc_id", k)
      .collect().toSeq
    val b = TrainPrepQueries.bottomKBatch(docs.repartition(17), "source",
      "doc_id", k).collect().toSeq
    assert(a === b, "sample must be partition-invariant")
    assert(a.groupBy(_.getString(0)).forall(_._2.size <= k))
  }
}
