package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.functions.MockScorers
import graft.functions.expressions.ConstantByReference

/** Vehicle-counting streaming pipeline (SURVEY.md §3.3).
  *
  * Stages: Kafka-shaped source → cast + from_json (S10/S11) → unbase64
  * payload (S17) → deterministic mock detection over the decoded bytes
  * (S23 semantics — count + comma-joined class labels — as pure Column
  * arithmetic on a 64-bit content hash, executor-side, vectorizable) →
  * second-truncated event time (S18) + processing timestamp (S19) →
  * output row shape (S13).
  *
  * The reference's per-row Python YOLO UDF (8 fps ceiling, BASELINE.md) is
  * replaced by codegen'd expressions; a real detector would slot in behind
  * the same schema via mapPartitions (see graft.operators.Multimodal).
  */
object VehiclePipeline {

  /** Kafka JSON value schema (`vehicle_consumer.py:44-48`). */
  val frameSchema: StructType = StructType(Seq(
    StructField("camera_id", StringType),
    StructField("timestamp", DoubleType),
    StructField("frame_data", StringType)))

  def fromKafka(spark: SparkSession, bootstrap: String, topic: String,
      maxOffsetsPerTrigger: Long = 100L): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      // the reference left intake uncapped and its backlog ran away
      // (batches 1→5→…→2078, BASELINE.md); always cap per-trigger intake
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .load()

  def parse(raw: DataFrame): DataFrame =
    raw
      .selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), frameSchema).as("d"))
      .select(col("d.camera_id").as("camera_id"),
        col("d.timestamp").as("timestamp"),
        col("d.frame_data").as("frame_data"))

  /** Mock detection (S23): decode base64 → hash the bytes → derive a count
    * in 0..4 and that many class labels, comma-joined. Malformed base64
    * hashes as empty bytes → deterministic Detection, never a type-broken
    * row (reference bug `vehicle_consumer.py:104` NOT replicated).
    *
    * Each ~13 KB frame is decoded and hashed once: the hash is its own
    * projected column, and the labels are four fixed `when(count >= i)`
    * slots that `concat_ws` joins, skipping the nulls. Label i is
    * `vehicleType(hash + i)`. A `transform(sequence(1, count), …)` lambda
    * would be interpreted outside whole-stage codegen and would re-decode
    * and re-hash the frame for every label it emits.
    */
  def detect(parsed: DataFrame): DataFrame = {
    // try_to_binary: malformed base64 → null → empty bytes (unbase64 alone
    // throws IllegalArgumentException on truncated payloads)
    val bytes = coalesce(
      try_to_binary(coalesce(col("frame_data"), lit("")), lit("base64")),
      lit(Array.emptyByteArray))
    val h = col("frame_hash")
    parsed
      .withColumn("frame_hash", abs(xxhash64(bytes)))
      .withColumn("count", pmod(h, lit(5)).cast("int"))
      .withColumn("vehicle_type", concat_ws(",", (1 to 4).map(i =>
        when(col("count") >= i, MockScorers.vehicleType(h + i))): _*))
      .drop("frame_hash")
  }

  /** Timestamp shaping (S18/S19, `vehicle_consumer.py:116-123`): frame_time
    * truncates to whole seconds exactly like the reference's
    * from_unixtime path; processed_at is an injectable clock for tests.
    *
    * A streaming query turns `current_timestamp()` into the batch's own
    * timestamp, which codegen would inline as a Java literal, so every
    * micro-batch would compile a new class. [[ConstantByReference]] hands
    * the value to the generated code by reference instead: the code text,
    * and so the compiled class, is the same in every batch.
    */
  def shape(detected: DataFrame,
      processedAt: Option[java.sql.Timestamp] = None): DataFrame =
    detected
      .withColumn("frame_time",
        timestamp_seconds(floor(col("timestamp")).cast("long")))
      .withColumn("processed_at", ConstantByReference(
        processedAt.map(lit(_)).getOrElse(current_timestamp())))
      .select(col("camera_id"), col("vehicle_type"), col("count"),
        col("frame_time"), col("processed_at"))

  /** Full transform chain from a kafka-shaped DataFrame. */
  def transformAll(raw: DataFrame,
      processedAt: Option[java.sql.Timestamp] = None): DataFrame =
    shape(detect(parse(raw)), processedAt)
}
