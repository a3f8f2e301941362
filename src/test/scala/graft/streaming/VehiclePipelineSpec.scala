package graft.streaming

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.util.Base64

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, XxHash64}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.MockScorers

class VehiclePipelineSpec extends SparkSpec {
  import spark.implicits._

  /** The label builder `detect` replaced, kept as the parity reference: a
    * `transform(sequence(1, count), …)` lambda over the same hash.
    */
  private def referenceDetect(parsed: DataFrame): DataFrame = {
    val bytes = coalesce(
      try_to_binary(coalesce(col("frame_data"), lit("")), lit("base64")),
      lit(Array.emptyByteArray))
    val h = abs(xxhash64(bytes))
    val classes = array(MockScorers.vehicleClasses.map(lit): _*)
    parsed
      .withColumn("count", pmod(h, lit(5)).cast("int"))
      .withColumn("vehicle_type",
        when(col("count") === 0, lit(""))
          .otherwise(array_join(
            transform(sequence(lit(1), col("count")),
              i => element_at(classes, (pmod(h + i, lit(4)) + 1).cast("int"))),
            ",")))
  }

  /** `detect` and the reference agree row for row on `raw`'s frames, keyed
    * by their `timestamp` (unique per row, null for a non-JSON row).
    */
  private def assertParity(raw: DataFrame): Array[(Int, String)] = {
    val parsed = VehiclePipeline.parse(raw)
    def run(d: DataFrame) = d.select("timestamp", "count", "vehicle_type")
      .orderBy(col("timestamp").asc_nulls_first).collect()
      .map(r => (Option(r.get(0)), r.getInt(1), r.getString(2))).toSeq
    val got = run(VehiclePipeline.detect(parsed))
    val want = run(referenceDetect(parsed))
    assert(got.length === want.length)
    val diff = got.zip(want).filter { case (g, w) => g != w }
    assert(diff.length === 0, s"rows differ, e.g. ${diff.take(3)}")
    got.map { case (_, n, t) => (n, t) }.toArray
  }

  private def jpeg(seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val img = new BufferedImage(64, 48, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 64) img.setRGB(x, y, r.nextInt(0xffffff))
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    out.toByteArray
  }

  private def frameJson(cam: String, ts: Double, payload: Array[Byte]): String = {
    val b64 = Base64.getEncoder.encodeToString(payload)
    s"""{"camera_id": "$cam", "timestamp": $ts, "frame_data": "$b64"}"""
  }

  test("frame parse + mock detect + timestamp shaping (S10-S23)") {
    val fixed = new java.sql.Timestamp(1761884470000L)
    val raw = Seq(
      frameJson("CAM_1", 1761884464.47, Array[Byte](1, 2, 3, 4)),
      frameJson("CAM_2", 1761884465.99, Array[Byte](9, 9, 9)))
      .toDF("value")
    val out = VehiclePipeline.transformAll(raw, Some(fixed)).orderBy("camera_id")
    val rows = out.collect()
    assert(rows.length === 2)
    assert(out.columns.toSeq ===
      Seq("camera_id", "vehicle_type", "count", "frame_time", "processed_at"))

    // S18: frame_time truncated to whole seconds (reference from_unixtime)
    val ft1 = rows(0).getAs[java.sql.Timestamp]("frame_time")
    assert(ft1.getTime === 1761884464000L, "sub-second must be truncated")

    // detection is deterministic: same payload → same result
    val again = VehiclePipeline.transformAll(raw, Some(fixed)).orderBy("camera_id").collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)

    // vehicle_type list length matches count; classes from the kept set
    rows.foreach { r =>
      val n = r.getAs[Int]("count")
      val types = r.getAs[String]("vehicle_type")
      if (n == 0) assert(types === "")
      else {
        val parts = types.split(",")
        assert(parts.length === n)
        assert(parts.forall(Set("car", "bus", "truck", "motorbike")))
      }
    }
  }

  test("malformed payloads yield a typed row, not the reference's bare-0 bug") {
    val raw = Seq(
      """{"camera_id": "CAM_1", "timestamp": 1.5, "frame_data": "%%%not-base64%%%"}""",
      """{"camera_id": "CAM_2", "timestamp": 2.5, "frame_data": null}""",
      """not json at all""")
      .toDF("value")
    val out = VehiclePipeline.transformAll(raw, Some(new java.sql.Timestamp(0L)))
    val rows = out.collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Int]("count") >= 0)
      assert(r.getAs[String]("vehicle_type") != null)
    }
    assert(assertParity(raw).length === 3)
  }

  test("detection throughput beats the reference's 8 fps baseline") {
    // BASELINE.md: ~8 frames/s per-row Python UDF. The Column-based mock
    // pipeline must sustain far more on a single core's worth of work.
    val n = 50000
    val payload = Base64.getEncoder.encodeToString(Array.fill[Byte](512)(7))
    val raw = spark.range(n).select(
      concat(lit("""{"camera_id": "CAM_"""), col("id") % 3,
        lit("""", "timestamp": """), col("id").cast("double"),
        lit(""", "frame_data": """"), lit(payload), lit("\"}")).as("value"))
    val t0 = System.nanoTime()
    val cnt = VehiclePipeline.transformAll(raw, None).count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(cnt === n)
    val fps = n / secs
    info(f"mock pipeline throughput: $fps%.0f frames/s")
    assert(fps > 1000, f"expected >1000 fps, got $fps%.0f")
  }

  test("detect equals the transform(sequence) label builder on 20k payloads and JPEGs") {
    // variable-length binary payloads: 32 to 224 hash bytes per frame
    val raw = spark.range(20000).select(to_json(struct(
      lit("CAM_1").as("camera_id"),
      col("id").cast("double").as("timestamp"),
      base64(unhex(repeat(sha2(col("id").cast("string"), 256),
        (col("id") % 7 + 1).cast("int")))).as("frame_data"))).as("value"))
    val out = assertParity(raw)
    assert(out.length === 20000)
    // every count and every label occurs, so each `when` slot is exercised
    assert(out.map(_._1).distinct.sorted.toSeq === (0 to 4))
    assert(out.flatMap(_._2.split(",")).filter(_.nonEmpty).distinct.sorted.toSeq
      === MockScorers.vehicleClasses.sorted)
    val jpegs = (0 until 100).map(k => frameJson(s"CAM_${k % 2}", k.toDouble,
      jpeg(k))).toDF("value")
    assert(assertParity(jpegs).length === 100)
  }

  test("the executed vehicle plan decodes and hashes a frame once") {
    // frames made per row, which the optimizer cannot evaluate away
    val raw = spark.range(3).select(to_json(struct(
      lit("CAM_1").as("camera_id"), col("id").cast("double").as("timestamp"),
      base64(col("id").cast("string").cast("binary")).as("frame_data")))
      .as("value"))
    val plan = VehiclePipeline.transformAll(raw)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    val exprs = plan.collect { case node => node.expressions }.flatten
    def count(p: PartialFunction[Expression, Unit]) =
      exprs.map(_.collect(p).length).sum
    assert(count { case _: XxHash64 => } === 1, plan)
    assert(count { case _: HigherOrderFunction => } === 0, plan)
  }

  test("a vehicle query compiles no class after its first batch; processed_at is per batch") {
    val input = MemoryStream[String](spark)
    val batches = ArrayBuffer.empty[(Long, Set[java.sql.Timestamp], Long)]
    val q = VehiclePipeline.transformAll(input.toDF())
      .writeStream
      .option("checkpointLocation", tmpDir("vehicle-codegen-ckpt"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        val stamps = b.select("processed_at").collect()
          .map(_.getTimestamp(0)).toSet
        batches.synchronized {
          batches += ((id, stamps,
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
        }
        ()
      }
      .start()
    try {
      (0 until 6).foreach { b =>
        input.addData((0 until 20).map(k => frameJson(s"CAM_${k % 2}",
          b * 100.0 + k, Array.fill[Byte](64 + k)((b + k).toByte))): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val seen = batches.synchronized(batches.toList)
    assert(seen.map(_._1) === (0L until 6L).toList)
    // one processed_at per batch, a different one in every batch
    assert(seen.forall(_._2.size == 1), seen.map(_._2))
    assert(seen.flatMap(_._2).distinct.length === 6, seen.map(_._2))
    val compiled = seen.map(_._3)
    assert(compiled.last === compiled.head,
      s"classes compiled after batch 0: ${compiled.map(_ - compiled.head)}")
  }
}
