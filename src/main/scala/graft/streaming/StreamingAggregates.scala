package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming aggregations — the Spark-native upgrade of the
  * reference's dashboard-side binning (SURVEY.md §2.7: the reference never
  * windows in Spark; D4's "1 phút/lần" chart bins in pandas). Here the
  * engine owns them: watermarked tumbling windows, session windows, and
  * custom per-key running state.
  *
  * At scale these are the stateful operators that need RocksDB state store
  * + watermark-bounded retention (SURVEY §7.4); the semantics below are
  * standard Spark event-time, so that swap is pure configuration —
  * asserted, not assumed: RocksDbStateSpec runs the windowed agg and the
  * watermarked dedup on RocksDBStateStoreProvider and checks both that
  * the provider is active (rocksdb* progress metrics) and that
  * watermark-expired state is evicted (numRowsTotal drops).
  */
object StreamingAggregates {

  /** Watermarked per-minute vehicle trend (D4 upgrade): tumbling 1-minute
    * event-time windows, late frames beyond the watermark dropped.
    */
  def vehicleTrend(shaped: DataFrame, watermark: String = "2 minutes")
      : DataFrame =
    shaped
      .withWatermark("frame_time", watermark)
      .groupBy(window(col("frame_time"), "1 minute"), col("vehicle_type"))
      .agg(sum(col("count")).as("total"), count(lit(1)).as("n_frames"))
      .select(col("window.start").as("bucket_start"), col("vehicle_type"),
        col("total"), col("n_frames"))

  /** Session windows per camera: a camera's frames group into sessions
    * closed by a 30s gap of silence.
    */
  def cameraSessions(shaped: DataFrame, gap: String = "30 seconds",
      watermark: String = "2 minutes"): DataFrame =
    shaped
      .withWatermark("frame_time", watermark)
      .groupBy(session_window(col("frame_time"), gap), col("camera_id"))
      .agg(sum(col("count")).as("total"), count(lit(1)).as("n_frames"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("camera_id"), col("total"), col("n_frames"))

  /** Streaming sessionization of the events stream — q35's streaming
    * form (r16, VERDICT r15 item 6): 30-minute-gap session windows per
    * user via Spark's native `session_window`, append mode — a session
    * emits once the watermark passes its end + gap, with state evicted
    * then (the property that bounds state at 100 TB). Parity contract
    * (SessionStreamSpec): fed CHRONOLOGICALLY, the emitted sessions
    * equal batch q35 bit-for-bit with
    * `window.end = batch session_end + gap` (Spark defines a session
    * window's end as last-event-time + gap); the value sum is the same
    * DECIMAL(18,2) tree as q35's, so floats can't drift between the
    * two forms.
    */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(
          org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Stream-stream event-time interval join (the streaming form of X11's
    * enrichment): each frame picks up alerts its camera raised in the
    * preceding `lookback`. BOTH sides are watermarked and the join
    * condition bounds event time in both directions — that is what lets
    * Spark expire buffered join state past the watermark; without the
    * time bound the join state grows forever (the 100 TB hazard).
    */
  def frameAlertJoin(frames: DataFrame, alerts: DataFrame,
      lookback: String = "1 minute", watermark: String = "2 minutes")
      : DataFrame =
    frames.withWatermark("frame_time", watermark)
      .join(alerts.withWatermark("alert_time", watermark),
        col("camera_id") === col("alert_camera") &&
          col("alert_time") <= col("frame_time") &&
          col("alert_time") >= col("frame_time") -
            expr(s"INTERVAL $lookback"))
      .select(col("camera_id"), col("frame_time"), col("count"),
        col("alert_time"), col("alert"))

  /** Streaming exact dedup (X15's streaming form): duplicates of a key
    * arriving within the watermark horizon are dropped; state for a key
    * is FREED once the watermark passes its event time — the property
    * that makes streaming dedup viable at 100 TB (plain
    * `dropDuplicates` on a stream keeps every key forever).
    */
  def dedupStream(df: DataFrame, idCols: Seq[String],
      eventTimeCol: String, watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  final case class CameraEvent(camera_id: String, count: Int)
  final case class CameraRunning(camera_id: String, total_vehicles: Long,
      n_frames: Long)

  /** Custom keyed state (flatMapGroupsWithState): per-camera running totals
    * emitted on every update — the stateful form of D5's dashboard tiles.
    */
  def runningCameraTotals(events: Dataset[CameraEvent])
      : Dataset[CameraRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.camera_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (camera: String, rows: Iterator[CameraEvent],
            state: GroupState[CameraRunning]) => {
          val prev = state.getOption
            .getOrElse(CameraRunning(camera, 0L, 0L))
          var total = prev.total_vehicles
          var n = prev.n_frames
          rows.foreach { e => total += e.count; n += 1 }
          val next = CameraRunning(camera, total, n)
          state.update(next)
          Iterator.single(next)
        })
  }
}
