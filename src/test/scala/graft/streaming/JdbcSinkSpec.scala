package graft.streaming

import java.sql.{DriverManager, SQLException}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** S5 exercised for REAL: Spark ships embedded Derby on its own
  * classpath, so the JDBC append path, the streaming
  * foreachBatch→JDBC wiring, and the idempotent keyed upsert all run
  * against an actual SQL database — no parquet stand-in. (Postgres in
  * production differs only by URL/credentials; the Spark-side plan and
  * the upsert contract are identical.)
  */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private def derbyUrl(name: String): String =
    s"jdbc:derby:${tmpDir(s"derby-$name")}/db;create=true"

  private def readBack(url: String, table: String,
      creds: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc").options(creds)
      .option("url", url).option("dbtable", table).load()

  /** `back` holds exactly `df`'s columns, types and rows (as a multiset). */
  private def assertSameRows(back: DataFrame, df: DataFrame): Unit = {
    assert(back.columns.toSeq === df.columns.toSeq)
    assert(back.schema.map(_.dataType) === df.schema.map(_.dataType))
    def rows(d: DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val want = rows(df)
    assert(want.nonEmpty)
    assert(rows(back) === want)
  }

  /** The ABSA sink's scored rows, one with a null id (a non-JSON value)
    * and one with a null review.
    */
  private def scoredReviews(): DataFrame =
    AbsaPipeline.score(AbsaPipeline.parse(Seq(
      """{"id": "r1", "review": "Pin trâu, camera đẹp! Giao hàng nhanh."}""",
      """{"id": "r2", "review": null}""",
      """{"id": "r3", "review": "màn hình tệ, loa rè"}""",
      """not json at all""").toDF("value")), "mock-v7")

  test("batch jdbc append + read-back round trip") {
    val url = derbyUrl("roundtrip")
    val df = Seq((1L, "pos", 0.9), (2L, "neg", 0.2), (3L, "neu", 0.5))
      .toDF("id", "label", "score")
    AbsaPipeline.jdbcAppend(df, url, "scores")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "scores").load()
    assert(back.count() === 3)
    assert(back.columns.map(_.toLowerCase).sorted ===
      Array("id", "label", "score"))
    val byId = back.select(col("id").cast("long"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId === Map(1L -> "pos", 2L -> "neg", 3L -> "neu"))
  }

  test("idempotent jdbc upsert: a replayed batch cannot duplicate keyed rows") {
    val url = derbyUrl("upsert")
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    AbsaPipeline.idempotentJdbcAppend(b1, url, "t", "id")
    // at-least-once replay: same batch again plus one new row
    val b2 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    AbsaPipeline.idempotentJdbcAppend(b2, url, "t", "id")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t").load()
    assert(back.count() === 3, "replayed keys must be dropped, new kept")
    assert(back.select(col("ID")).as[Long].collect().sorted ===
      Array(1L, 2L, 3L))
  }

  test("streaming foreachBatch lands micro-batches in the JDBC table") {
    val url = derbyUrl("stream")
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("id", "v")
      .writeStream
      .option("checkpointLocation", tmpDir("derby-ckpt"))
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        AbsaPipeline.idempotentJdbcAppend(batch, url, "events", "id")
      }
      .trigger(Trigger.AvailableNow())
    input.addData((10L, "x"), (11L, "y"))
    val h = q.start(); h.awaitTermination(60000)
    input.addData((11L, "y"), (12L, "z")) // overlap with batch 1
    val h2 = q.start(); h2.awaitTermination(60000)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "events").load()
    assert(back.select(col("ID")).as[Long].collect().sorted ===
      Array(10L, 11L, 12L))
  }

  test("jdbc append round-trips the scored ABSA rows exactly, nulls included") {
    val url = derbyUrl("absa-exact")
    val scored = scoredReviews()
    AbsaPipeline.jdbcAppend(scored, url, "absa_reviews")
    assertSameRows(readBack(url, "absa_reviews"), scored)
  }

  test("jdbc append round-trips the vehicle rows exactly, timestamps and nulls included") {
    val url = derbyUrl("vehicle-exact")
    val frames = Seq(
      """{"camera_id": "CAM_1", "timestamp": 1761884464.47, "frame_data": "AQIDBA=="}""",
      """{"camera_id": "CAM_2", "timestamp": 1761884465.99, "frame_data": "CQkJ"}""",
      """{"camera_id": "CAM_1", "timestamp": 1.5, "frame_data": "%%%not-base64%%%"}""",
      """{"camera_id": null, "timestamp": null, "frame_data": null}""",
      """not json at all""").toDF("value")
    val processedAt = new java.sql.Timestamp(1761884470123L)
    processedAt.setNanos(123456000) // microsecond precision survives
    val rows = VehiclePipeline.transformAll(frames, Some(processedAt))
    AbsaPipeline.jdbcAppend(rows, url, "vehicle_frames")
    assertSameRows(readBack(url, "vehicle_frames"), rows)
  }

  test("an empty first batch creates the table with the DataFrame's schema (S26)") {
    val url = derbyUrl("empty-first")
    val empty = scoredReviews().where(lit(false))
    AbsaPipeline.jdbcAppend(empty, url, "absa_reviews")
    val back = readBack(url, "absa_reviews")
    assert(back.columns.toSeq === empty.columns.toSeq)
    assert(back.schema.map(_.dataType) === empty.schema.map(_.dataType))
    assert(back.count() === 0)
    // the created table takes the next batch's rows
    val scored = scoredReviews()
    AbsaPipeline.jdbcAppend(scored, url, "absa_reviews")
    assertSameRows(readBack(url, "absa_reviews"), scored)
  }

  test("credentialed jdbc append authenticates with the given user and password") {
    val db = s"${tmpDir("derby-auth")}/db"
    val (user, password) = ("graft", "s3cret")
    // a database that requires BUILTIN authentication from its next boot
    val admin = DriverManager.getConnection(
      s"jdbc:derby:$db;create=true;user=$user;password=$password")
    try {
      val st = admin.createStatement()
      Seq("derby.user." + user -> password,
        "derby.authentication.provider" -> "BUILTIN",
        "derby.connection.requireAuthentication" -> "true").foreach {
        case (k, v) =>
          st.execute(s"CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('$k', '$v')")
      }
    } finally admin.close()
    val shutdown = intercept[SQLException](DriverManager.getConnection(
      s"jdbc:derby:$db;shutdown=true;user=$user;password=$password"))
    assert(shutdown.getSQLState === "08006")
    val url = s"jdbc:derby:$db"
    val df = Seq((1L, "pos"), (2L, null)).toDF("id", "label")
    intercept[SQLException](
      AbsaPipeline.jdbcAppend(df, url, "scores", user, "wrong"))
    AbsaPipeline.jdbcAppend(df, url, "scores", user, password)
    AbsaPipeline.jdbcAppend(df, url, "scores", user, password)
    val back = readBack(url, "scores", Map("user" -> user, "password" -> password))
    assertSameRows(back, df.union(df))
  }

  test("a jdbc append runs one Spark job, whether or not it creates the table") {
    val url = derbyUrl("one-job")
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      // three partitions, so three write tasks
      def df = spark.range(0, 6, 1, 3).select(col("id"),
        concat(lit("label-"), col("id")).as("label"), (col("id") / 10).as("score"))
      Seq("create", "append").foreach { g =>
        sc.setJobGroup(g, g)
        try AbsaPipeline.jdbcAppend(df, url, "scores")
        finally sc.clearJobGroup()
      }
      // listener events arrive in order: once the marker job's start is
      // seen, every job start before it has been seen too
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      val seen = groups.asScala.toList
      assert(seen.count(_ == "create") === 1, seen)
      assert(seen.count(_ == "append") === 1, seen)
    } finally sc.removeSparkListener(listener)
    assert(readBack(url, "scores").count() === 12)
  }
}
