package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Q._

/** X98 — incremental materialized-aggregate maintenance: a per-group
  * rollup kept as MERGEABLE partial state on disk (count, decimal sum,
  * min, max, HLL sketch for distincts), updated per batch by
  * state ∪ delta → re-combine — never by rescanning the corpus. This
  * is the warehouse face of the engine's sketch tier: at 100 TB the
  * difference between "the dashboard rollup is one sketch-sized merge
  * per ingest batch" and "the nightly job reads 100 TB"; every column
  * is chosen to be associative+commutative (the classic
  * self-maintainable-view set, plus the X44 HLL precedent for the
  * non-self-maintainable COUNT DISTINCT).
  *
  * Crash/replay: writes commit via a RENAME-AWAY swap — tmp is made a
  * complete candidate (data, then batch marker, then a `_swap_ready`
  * sentinel written LAST), the live dir is renamed aside to `.old`,
  * tmp is renamed in, `.old` is deleted. Every entry point first runs
  * [[recover]], which rolls any crash window forward (tmp carries the
  * ready sentinel ⇒ it is the committed candidate) or back (no
  * sentinel ⇒ the attempt never committed; restore `.old` if the live
  * dir is missing). At no point does the protocol delete the only
  * copy of the state — the defect in the previous delete-then-rename
  * shape, where a kill between the two ops left NO live dir and the
  * retry path silently re-initialized from the next delta alone. A
  * replayed merge of the same delta is NOT idempotent for sums — the
  * caller keys batches (the X25 checkpoint contract) so each delta
  * commits once; the spec proves merge ≡ one-shot recompute under any
  * batch slicing and kills the swap at every window.
  */
object MaterializedAgg {

  /** Group a delta frame to the mergeable partial shape. */
  def partials(delta: DataFrame): DataFrame =
    delta.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"),
        hll_sketch_agg(col("u"), 12).as("hll"))

  /** Combine two partial frames (same schema) into one. */
  private def combine(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("g"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        hll_union_agg(col("hll"), lit(false)).as("hll"))

  /** The sentinel whose presence marks a tmp dir as a COMPLETE commit
    * candidate. Written strictly after the data and the batch marker,
    * so recovery can treat `tmp/_swap_ready` as the commit point: a
    * crash before it rolls back, a crash after it rolls forward.
    */
  private val Ready = "_swap_ready"

  private def hPath(s: String) = new org.apache.hadoop.fs.Path(s)

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    hPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Roll the store out of any crash window a killed [[commitSwap]]
    * can leave. Idempotent; run by every reader and writer entry
    * point, so a replayed `foreachBatch` (or a fresh reader) always
    * sees a consistent committed state:
    *
    *   - `tmp/_swap_ready` present ⇒ tmp is a complete candidate and
    *     the swap passed its commit point — roll FORWARD (rename the
    *     live dir aside if the kill hit before that step, rename tmp
    *     in, drop `.old`).
    *   - tmp present without the sentinel ⇒ the attempt never
    *     committed — roll BACK (drop tmp; restore `.old` over a
    *     missing live dir).
    *
    * Either way exactly one committed state survives: the batch
    * marker travels inside the dir, so [[committedBatch]] after
    * recovery tells a replaying caller precisely whether its delta is
    * already in.
    */
  def recover(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fs = fsOf(spark, path)
    val pp = hPath(path)
    val tmp = hPath(path + ".tmp")
    val old = hPath(path + ".old")
    if (fs.exists(new org.apache.hadoop.fs.Path(tmp, Ready))) {
      if (fs.exists(pp)) {
        if (fs.exists(old)) fs.delete(old, true)
        require(fs.rename(pp, old), s"recovery rename $pp -> $old failed")
      }
      require(fs.rename(tmp, pp), s"recovery rename $tmp -> $pp failed")
    } else if (fs.exists(tmp)) fs.delete(tmp, true)
    if (!fs.exists(pp) && fs.exists(old))
      require(fs.rename(old, pp), s"recovery restore $old -> $pp failed")
    if (fs.exists(old)) fs.delete(old, true)
    fs.delete(new org.apache.hadoop.fs.Path(pp, Ready), false)
  }

  /** Commit `merged` as the new state via the rename-away swap.
    * Sequence: recover → write tmp → marker → ready sentinel (the
    * commit point) → live-dir renamed to `.old` → tmp renamed in →
    * `.old` deleted. A kill at ANY point leaves a state [[recover]]
    * restores to exactly one committed version — never zero copies.
    */
  private def commitSwap(merged: DataFrame, path: String,
      batchId: Option[Long]): Unit = {
    val spark = merged.sparkSession
    recover(spark, path)
    val fs = fsOf(spark, path)
    val pp = hPath(path)
    val tmp = hPath(path + ".tmp")
    val old = hPath(path + ".old")
    merged.write.mode("overwrite").parquet(tmp.toString)
    batchId.foreach(b => writeMarker(spark, tmp.toString, b))
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, Ready), true)
    out.close()
    if (fs.exists(pp)) {
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(pp, old), s"swap rename $pp -> $old failed")
    }
    require(fs.rename(tmp, pp), s"swap rename $tmp -> $pp failed")
    fs.delete(old, true)
    fs.delete(new org.apache.hadoop.fs.Path(pp, Ready), false)
  }

  /** Initialize the state store from a first delta (same swap path as
    * merges — a kill mid-init leaves nothing committed, and the next
    * attempt starts clean).
    */
  def init(delta: DataFrame, path: String): Unit =
    commitSwap(partials(delta), path, None)

  /** Merge one delta into the state store: state ∪ partials(delta) →
    * combined, committed via the rename-away swap. Any batch marker
    * already in the store is carried forward.
    */
  def merge(delta: DataFrame, path: String): Unit = {
    val spark = delta.sparkSession
    recover(spark, path)
    val cur = committedBatch(spark, path)
    val merged = combine(spark.read.parquet(path), partials(delta))
    commitSwap(merged, path, if (cur >= 0) Some(cur) else None)
  }

  /** Read the state to final values (distinct via the HLL estimate). */
  def read(spark: org.apache.spark.sql.SparkSession, path: String)
      : DataFrame = {
    recover(spark, path)
    spark.read.parquet(path)
      .select(col("g"), col("n"), col("s").cast("double").as("total"),
        col("mn"), col("mx"),
        hll_sketch_estimate(col("hll")).as("approx_distinct"))
  }

  /** The marker carrying the last merged batch id. Underscore-prefixed
    * so parquet readers ignore it, and written INTO the tmp dir BEFORE
    * the ready sentinel — data, marker, and commit point travel as one
    * unit through the swap, which is what makes [[mergeOnce]] safe
    * against a crash between "state written" and "progress recorded"
    * (the gap a separate side-file would leave).
    */
  private val Marker = "_committed_batch"

  /** Last batch id committed into the state, −1 if none recorded.
    * Runs [[recover]] first, so a caller asking "is my batch in?"
    * after a crash gets the post-recovery truth.
    */
  def committedBatch(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    recover(spark, path)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fp = new org.apache.hadoop.fs.Path(path, Marker)
    val fs = fp.getFileSystem(hconf)
    if (!fs.exists(fp)) -1L
    else {
      val in = fs.open(fp)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  private def writeMarker(spark: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fp = new org.apache.hadoop.fs.Path(dir, Marker)
    val out = fp.getFileSystem(hconf).create(fp, true)
    try out.write(batchId.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Idempotent merge: a batch at or below the committed id is a
    * REPLAY (foreachBatch re-invocation after a crash before the
    * checkpoint commit — the at-least-once face) and is skipped, so
    * sums never double-count. First batch initializes.
    */
  def mergeOnce(delta: DataFrame, path: String, batchId: Long): Unit =
    mergeOnceAs(delta, path, batchId, partials, combine)

  /** The same exactly-once maintenance loop with CALLER-SUPPLIED
    * partial and combine forms — any associative+commutative state
    * (the BM25, decayed-count, CDC and correlation-matrix states ride
    * this) gets the full swap/marker/recovery machinery without
    * re-implementing it. `toPartials` maps a delta to the mergeable
    * shape; `combinePartials` must be insensitive to which side is
    * state and which is delta.
    */
  def mergeOnceAs(delta: DataFrame, path: String, batchId: Long,
      toPartials: DataFrame => DataFrame,
      combinePartials: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = delta.sparkSession
    // committedBatch runs recover(), so after ANY mid-swap kill the
    // store is back to exactly one committed version before the
    // replay decision — a missing marker here genuinely means "no
    // batch ever committed", never "the swap ate the state"
    if (batchId <= committedBatch(spark, path)) ()
    else {
      val fs = fsOf(spark, path)
      val merged =
        if (!fs.exists(hPath(path))) toPartials(delta)
        else combinePartials(spark.read.parquet(path), toPartials(delta))
      commitSwap(merged, path, Some(batchId))
    }
  }

  /** The ORDER-DEPENDENT sibling of [[mergeOnceAs]]: one exactly-once
    * fold step `state × delta → state` with the same swap/marker/
    * recovery machinery and replay idempotence. For operators whose
    * update is a SEQUENTIAL fold of the committed state with the delta
    * rather than a commutative merge (q154's [[IncrementalCc]], which
    * warm-starts label propagation from the committed labels). `step`
    * receives None when no state is committed yet.
    */
  def foldOnceAs(delta: DataFrame, path: String, batchId: Long,
      step: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val spark = delta.sparkSession
    if (batchId <= committedBatch(spark, path)) ()
    else {
      val fs = fsOf(spark, path)
      val cur =
        if (fs.exists(hPath(path))) Some(spark.read.parquet(path))
        else None
      commitSwap(step(cur, delta), path, Some(batchId))
    }
  }

  /** Rewrite the committed state in place through `f` — the
    * compaction/GC entry point (X127's tombstone GC rides this): runs
    * [[recover]], applies `f` to the state frame, and commits the
    * result via the same swap/marker machinery, carrying the batch
    * marker forward so a replay decision after a kill mid-rewrite is
    * unaffected. `f` must be a row-subset/reshape of the SAME
    * mergeable schema — it sees committed state only.
    */
  def rewrite(spark: org.apache.spark.sql.SparkSession, path: String,
      f: DataFrame => DataFrame): Unit = {
    recover(spark, path)
    val cur = committedBatch(spark, path)
    commitSwap(f(spark.read.parquet(path)), path,
      if (cur >= 0) Some(cur) else None)
  }

  /** Wire a (g, v, u) stream into the maintenance loop — exactly-once
    * state effects over an at-least-once foreachBatch, via the
    * batch-id marker swapped atomically with the data.
    */
  def stream(input: DataFrame, path: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeOnce(batch, path, batchId)
      }
      .start()

  /** q147 — the maintenance loop END TO END as a query: the events
    * table is split into 4 deterministic batches (event_id % 4 — an
    * arrival slicing), the state store is initialized from batch 0 and
    * merged 3 times, and the READ-BACK exact columns are the output.
    * The oracle is a plain GROUP BY over the full table — the merge
    * path must reproduce it exactly (the HLL column is spec-territory:
    * DuckDB can't replay DataSketches, and its accuracy/union
    * consistency is asserted in MaterializedAggSpec).
    */
  val q147 = GraftQuery(
    "q147_materialized_agg", {
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type").as("g"), col("value").as("v"),
            col("user_id").as("u"), col("event_id"))
        val path = Scratch.fresh("q147-state") + "/state"
        init(ev.filter(col("event_id") % 4 === 0), path)
        (1 to 3).foreach(b =>
          merge(ev.filter(col("event_id") % 4 === b), path))
        read(s, path)
          .select(col("g"), col("n"),
            round(col("total"), 2).as("total_r"), col("mn"), col("mx"))
          .orderBy(col("g"))
      }
    },
    Some("""
      SELECT event_type AS g, count(*) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_r,
             min(value) AS mn, max(value) AS mx
      FROM events
      GROUP BY event_type
      ORDER BY g
    """))

  val all: Seq[GraftQuery] = Seq(q147)
}
