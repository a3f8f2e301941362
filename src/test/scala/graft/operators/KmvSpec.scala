package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[KmvSketch]] (X75) estimator-quality oracles. The cross-engine
  * determinism gate runs via q126's DuckDB oracle; here we pin the
  * CLAIMS: the two-stage bottom-k equals the global bottom-k, the
  * union estimate sits inside KMV error bounds against the exact
  * distinct count, the exact-below-k branch is exact, and a planted
  * full-overlap pair is estimated at Jaccard ≈ 1.
  */
class KmvSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def corpusDir(rows: Seq[(Long, String, String)]): String = {
    val dir = tmpDir("kmv-corpus")
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("two-stage bottom-k equals the single global bottom-k") {
    val hashed = (1L to 5000L).map(i => ("s" + (i % 3), i * 2654435761L % 1000003L))
      .toDF("source", "h").distinct()
    val twoStage = KmvSketch.sketch(hashed)
      .orderBy("source", "h").collect().map(r => (r.getString(0), r.getLong(1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    val global = hashed.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KmvSketch.K).select("source", "h")
      .orderBy("source", "h").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(twoStage.toSeq === global.toSeq)
  }

  test("union estimate within 3/sqrt(K) of exact on the sf0.001 corpus; " +
      "intersection unbiased in aggregate") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val est = KmvSketch.q126.build(spark, sf0001).collect()
    assert(est.nonEmpty)
    // exact per-source distinct shingles and pairwise intersections
    val srcSh = MinHashDedup.shingles(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle")).distinct().cache()
    val card = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val inter = srcSh.select(col("source").as("sa"), col("shingle"))
      .join(srcSh.select(col("source").as("sb"), col("shingle")), "shingle")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("ni"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val bound = 3.0 / math.sqrt(KmvSketch.K.toDouble) // 3 RSE ≈ 37.5%
    var interErrSum = 0.0
    est.foreach { r =>
      val (a, b) = (r.getAs[String]("src_a"), r.getAs[String]("src_b"))
      val exactU = card(a) + card(b) - inter.getOrElse((a, b), 0L)
      val eu = r.getAs[Double]("est_union")
      assert(math.abs(eu - exactU) / exactU < bound,
        s"union est for ($a,$b): $eu vs exact $exactU")
      val exactI = inter.getOrElse((a, b), 0L).toDouble
      interErrSum += (r.getAs[Double]("est_inter") - exactI) / math.max(exactI, 1.0)
    }
    // per-pair intersection is noisy at low J (k∩ is a tiny count) but
    // the estimator is unbiased: the MEAN relative error must be small
    assert(math.abs(interErrSum / est.length) < 0.25,
      s"mean intersection bias ${interErrSum / est.length}")
    srcSh.unpersist()
  }

  test("below-K branch is exact; planted identical sources estimate J=1") {
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val dir = corpusDir(Seq(
      (1L, words, "dupA"), (2L, words, "dupB"), (3L, other, "solo")))
    val rows = KmvSketch.q126.build(spark, dir).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r).toMap
    val dup = rows(("dupA", "dupB"))
    // 28 shingles each, identical: union sketch < K → exact branch
    assert(dup.getAs[Long]("n_u") === 28L)
    assert(dup.getAs[Double]("est_union") === 28.0)
    assert(dup.getAs[Double]("jaccard_est") === 1.0)
    assert(dup.getAs[Double]("est_inter") === 28.0)
    val disjoint = rows(("dupA", "solo"))
    assert(disjoint.getAs[Long]("k_inter") === 0L)
    assert(disjoint.getAs[Double]("est_inter") === 0.0)
  }

  test("q126 broadcasts its per-pair counts even with size-based broadcast off") {
    val lines = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      graft.Bench.planLines(graft.Bench
        .materialize(KmvSketch.q126.build(spark, sf0001)).executedPlan)
    }
    assert(lines.contains("BroadcastHashJoin LeftOuter"), lines)
    assert(!lines.contains("SortMergeJoin LeftOuter"), lines)
  }
}
