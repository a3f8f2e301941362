package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Q._

/** X127 — CDC upsert/delete apply (MERGE INTO): a keyed change feed
  * (the Debezium/Delta-CDF shape — each record an upsert carrying the
  * row's new attributes, or a delete) folded into the current-snapshot
  * table. Resolution is LAST-WRITER-WINS on the change's (event time,
  * change id) — the standard ordering-column merge every lakehouse
  * MERGE runs — and deletes are retained as TOMBSTONES in state, so a
  * late-arriving upsert that is OLDER than the delete still loses
  * (drop the tombstone and that upsert would resurrect the row — the
  * classic distributed-delete bug Cassandra/Dynamo tombstones exist
  * for). [[gcTombstones]] is the horizon-based GC: sound once feeds
  * are known quiescent past the horizon, NOT run by the default loop
  * (retention is the safe default; GC is an explicit operational
  * call, like Cassandra's gc_grace_seconds).
  *
  * The maintained form rides X98's swap/marker/recovery machinery via
  * `mergeOnceAs`: state is ONE row per key — (last change struct,
  * additive change count) — and the combine is max(struct) + sum, both
  * COMMUTATIVE and ASSOCIATIVE, so this merge is exact under
  * ARBITRARY batch slicing (the spec proves modular and chronological
  * slicings both reproduce the batch oracle bit-for-bit). Per-batch
  * cost is |keys-touched|-sized, never a rescan; at 100 TB the
  * snapshot maintenance is one keyed shuffle of the delta against
  * |users| state rows.
  *
  * The CDC feed here derives from `events`: `error` records are the
  * delete stream, everything else upserts (value, k-prop); time is
  * exact integer microseconds, ties broken by event_id — the struct
  * comparison never reaches the payload fields.
  */
object CdcMerge {

  /** Shape raw events rows into the CDC feed. */
  def feed(ev: DataFrame): DataFrame =
    ev.select(
      col("user_id"),
      unix_micros(col("ts")).as("us"),
      col("event_id"),
      when(col("event_type") === "error", lit("delete"))
        .otherwise(lit("upsert")).as("op"),
      col("value"),
      regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("k"))

  /** Per-key mergeable partial: the (time, id)-max change + count. */
  def partials(cdc: DataFrame): DataFrame =
    cdc.groupBy(col("user_id"))
      .agg(max(struct(col("us"), col("event_id"), col("op"),
        col("value"), col("k"))).as("last"),
        count(lit(1)).as("n_changes"))

  /** Commutative combine of two partial frames. */
  def combine(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("user_id"))
      .agg(max(col("last")).as("last"),
        sum(col("n_changes")).as("n_changes"))

  /** Render a partial frame as the snapshot: tombstones surface as
    * is_live=false with a null payload (a delete carries none).
    */
  def render(state: DataFrame): DataFrame =
    state.select(
      col("user_id"), col("n_changes"),
      col("last.us").as("last_us"),
      col("last.op").as("last_op"),
      (col("last.op") =!= "delete").as("is_live"),
      when(col("last.op") =!= "delete", col("last.value"))
        .as("last_value"),
      when(col("last.op") =!= "delete", col("last.k")).as("last_k"))
      .orderBy(col("user_id"))

  /** One maintained apply of a delta batch (X98 exactly-once loop). */
  def applyOnce(delta: DataFrame, path: String, batchId: Long): Unit =
    MaterializedAgg.mergeOnceAs(delta, path, batchId, partials, combine)

  /** Read the maintained snapshot back. */
  def readSnapshot(spark: SparkSession, path: String): DataFrame = {
    MaterializedAgg.recover(spark, path)
    render(spark.read.parquet(path))
  }

  /** Quiescence-horizon tombstone GC (the `gc_grace_seconds` contract):
    * drop tombstone rows more than `horizonUs` older than the NEWEST
    * absorbed change — state size falls by exactly those rows. Sound
    * iff the feed is quiescent past the horizon (no change older than
    * max(us) − horizonUs will ever arrive; violating that precondition
    * resurrects the row, which is WHY the default loop keeps every
    * tombstone). A late upsert OLDER than a retained (within-horizon)
    * tombstone still loses — the spec pins both that and the size
    * drop. Rides [[MaterializedAgg.rewrite]], so the swap/marker
    * crash-safety and the replay decision are unchanged.
    */
  def gcTombstones(spark: SparkSession, path: String,
      horizonUs: Long): Unit =
    MaterializedAgg.rewrite(spark, path, { st =>
      val hw = st.agg(max(col("last.us"))).collect()(0)
      if (hw.isNullAt(0)) st
      else st.filter(!(col("last.op") === "delete" &&
        col("last.us") < lit(hw.getLong(0) - horizonUs)))
    })

  /** q169 — the batch form: the whole feed applied in one merge. */
  val q169 = GraftQuery(
    "q169_cdc_snapshot", {
      (s, d) => render(partials(feed(t(s, d, "events"))))
    },
    Some("""
      WITH cdc AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CASE WHEN event_type = 'error' THEN 'delete'
                    ELSE 'upsert' END AS op,
               value, CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER)
                 AS k
        FROM events),
      ranked AS (
        SELECT *, row_number() OVER
                 (PARTITION BY user_id ORDER BY us DESC, event_id DESC)
               AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        FROM cdc)
      SELECT user_id, CAST(n_changes AS BIGINT) AS n_changes,
             us AS last_us, op AS last_op,
             op <> 'delete' AS is_live,
             CASE WHEN op <> 'delete' THEN value END AS last_value,
             CASE WHEN op <> 'delete' THEN k END AS last_k
      FROM ranked WHERE rn = 1
      ORDER BY user_id
    """))

  val all: Seq[GraftQuery] = Seq(q169)
}
