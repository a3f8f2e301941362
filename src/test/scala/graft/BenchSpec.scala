package graft

/** `Bench`'s plan fingerprint follows the executed plan's structure: it
  * holds when only the host's parallelism changes and moves when the join
  * strategy or the scan's filter pushdown does. Also the shared
  * `SPARK_GRAFT_ONLY` selector.
  */
class BenchSpec extends SparkSpec {
  private val joins = SparkEntry.select(Some(
    "q03_join_segment_revenue,q04_nation_revenue,q06_semi_join"))

  private def plans() = joins.map { case (name, build) =>
    name -> Bench.materialize(build(spark, sf0001)).executedPlan
  }

  private def hashes(): Map[String, String] =
    plans().map { case (name, p) => name -> Bench.planFingerprint(p) }

  test("the selector matches name prefixes and rejects a list that matches nothing") {
    val q149 = SparkEntry.select(Some("q149"))
    assert(q149.nonEmpty && q149.keys.forall(_.startsWith("q149_")))
    assert(joins.keySet == Set("q03_join_segment_revenue",
      "q04_nation_revenue", "q06_semi_join"))
    assert(SparkEntry.select(None).size == SparkEntry.queries.size)
    assert(SparkEntry.select(Some("")).size == SparkEntry.queries.size)
    intercept[IllegalArgumentException](SparkEntry.select(Some("q999")))
    intercept[IllegalArgumentException](SparkEntry.select(Some("q03,q999")))
  }

  test("hashed lines skip execution wrappers and keep the exchange kind") {
    plans().foreach { case (name, plan) =>
      val lines = Bench.planLines(plan)
      Seq("AdaptiveSparkPlan", "QueryStage", "WholeStageCodegen",
        "InputAdapter", "AQEShuffleRead", "ReusedExchange").foreach { w =>
        assert(!lines.exists(_.contains(w)), s"$name: $w in $lines")
      }
      assert(lines.exists(_.startsWith("Exchange ")), s"$name: $lines")
      assert(lines == lines.distinct.sorted)
    }
  }

  test("identical runs hash identically") {
    assert(hashes() == hashes())
  }

  test("the shuffle partition count does not change a hash") {
    val two = withConf("spark.sql.shuffle.partitions" -> "2")(hashes())
    val four = withConf("spark.sql.shuffle.partitions" -> "4")(hashes())
    assert(two == four)
  }

  test("a forced sort-merge join changes every hash") {
    val base = hashes()
    val smj = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(hashes())
    base.foreach { case (name, h) => assert(smj(name) != h, name) }
  }

  test("disabling parquet filter pushdown changes every hash") {
    def lines() = plans().map { case (name, p) => name -> Bench.planLines(p) }
    val base = lines()
    val off = withConf("spark.sql.parquet.filterPushdown" -> "false")(lines())
    base.foreach { case (name, l) =>
      assert(l.contains("Scan parquet  pushed=true"), s"$name: $l")
      assert(off(name) ==
        l.map(_.replace("pushed=true", "pushed=false")).distinct.sorted, name)
    }
  }
}
