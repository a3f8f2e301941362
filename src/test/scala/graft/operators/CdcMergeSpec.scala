package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[CdcMerge]] (X127) oracles: the maintained form (`applyOnce` /
  * `readSnapshot` over X98's swap machinery) replays to the q169 batch
  * oracle bit-for-bit under BOTH modular and chronological batch
  * slicings (the per-key combine is max(struct) + sum — commutative and
  * associative, so slicing must not matter); a tombstone beats a
  * late-arriving OLDER upsert (dropping the tombstone would resurrect
  * the deleted row); and the maintained form survives a REAL kill
  * between state swap and checkpoint commit over the X71 source — the
  * same bar IncrementalCc meets.
  */
class CdcMergeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val cdc =
    CdcMerge.feed(graft.sources.Tables.events(spark, sf0001))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toList).toList

  private lazy val batchOracle: Seq[Seq[Any]] =
    rows(CdcMerge.render(CdcMerge.partials(cdc)))

  test("modular slicing through applyOnce replays to the batch " +
      "oracle bit-for-bit") {
    val path = tmpDir("cdc-mod") + "/state"
    (0 to 3).foreach { b =>
      CdcMerge.applyOnce(
        cdc.filter(col("event_id") % 4 === b), path, b.toLong)
    }
    assert(rows(CdcMerge.readSnapshot(spark, path)) === batchOracle)
  }

  test("chronological slicing through applyOnce replays to the batch " +
      "oracle bit-for-bit") {
    val path = tmpDir("cdc-chron") + "/state"
    val mm = cdc.agg(min(col("us")), max(col("us"))).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val slices = Seq(
      cdc.filter(col("us") <= c1),
      cdc.filter(col("us") > c1 && col("us") <= c2),
      cdc.filter(col("us") > c2))
    slices.zipWithIndex.foreach { case (s, b) =>
      CdcMerge.applyOnce(s, path, b.toLong)
    }
    assert(rows(CdcMerge.readSnapshot(spark, path)) === batchOracle)
  }

  private def feedDf(rs: Seq[(Long, Long, Long, String, Double, Int)]) =
    rs.toDF("user_id", "us", "event_id", "op", "value", "k")

  test("a late-arriving upsert OLDER than the tombstone does not " +
      "resurrect the deleted row") {
    val path = tmpDir("cdc-tomb") + "/state"
    // key 7: upsert at t=10, delete at t=20
    CdcMerge.applyOnce(feedDf(Seq(
      (7L, 10L, 1L, "upsert", 5.0, 1),
      (7L, 20L, 2L, "delete", 0.0, 0))), path, 0L)
    val snap0 = CdcMerge.readSnapshot(spark, path).collect()
    assert(snap0.length === 1 && !snap0(0).getAs[Boolean]("is_live"))
    // the late batch: an upsert with t=15 < the delete's t=20
    CdcMerge.applyOnce(feedDf(Seq(
      (7L, 15L, 3L, "upsert", 9.0, 2))), path, 1L)
    val snap = CdcMerge.readSnapshot(spark, path).collect()
    assert(snap.length === 1)
    val r = snap(0)
    assert(!r.getAs[Boolean]("is_live"),
      "older upsert resurrected a deleted row")
    assert(r.getAs[String]("last_op") === "delete")
    assert(r.getAs[Long]("last_us") === 20L)
    assert(r.getAs[Long]("n_changes") === 3L,
      "the late change must still be counted")
    assert(r.isNullAt(r.fieldIndex("last_value")))
    // and a NEWER upsert does revive it
    CdcMerge.applyOnce(feedDf(Seq(
      (7L, 25L, 4L, "upsert", 2.0, 3))), path, 2L)
    val revived = CdcMerge.readSnapshot(spark, path).collect()(0)
    assert(revived.getAs[Boolean]("is_live"))
    assert(revived.getAs[Double]("last_value") === 2.0)
  }

  test("replayed batch id is a no-op (exactly-once under " +
      "at-least-once delivery)") {
    val path = tmpDir("cdc-replay") + "/state"
    CdcMerge.applyOnce(feedDf(Seq(
      (1L, 10L, 1L, "upsert", 1.0, 1))), path, 0L)
    val d = feedDf(Seq((1L, 20L, 2L, "upsert", 2.0, 2)))
    CdcMerge.applyOnce(d, path, 1L)
    val after = rows(CdcMerge.readSnapshot(spark, path))
    CdcMerge.applyOnce(d, path, 1L) // re-delivered
    assert(rows(CdcMerge.readSnapshot(spark, path)) === after,
      "replayed batch double-counted n_changes")
  }

  test("tombstone GC: past-horizon tombstones drop (state size falls), " +
      "within-horizon tombstones survive and still beat older late " +
      "upserts; batch marker carried forward") {
    val path = tmpDir("cdc-gc") + "/state"
    // key 1: deleted long ago (us=20); key 2: deleted recently (990);
    // key 3: newest change (1000) — sets the high watermark
    CdcMerge.applyOnce(feedDf(Seq(
      (1L, 10L, 1L, "upsert", 1.0, 1),
      (1L, 20L, 2L, "delete", 0.0, 0),
      (2L, 30L, 3L, "upsert", 2.0, 1),
      (2L, 990L, 4L, "delete", 0.0, 0),
      (3L, 1000L, 5L, "upsert", 3.0, 1))), path, 0L)
    val before = spark.read.parquet(path).count()
    assert(before === 3L)
    val batchBefore = MaterializedAgg.committedBatch(spark, path)
    // horizon 100 → cutoff = 1000 − 100 = 900: key 1's tombstone
    // (20) drops, key 2's (990) is retained
    CdcMerge.gcTombstones(spark, path, horizonUs = 100L)
    assert(spark.read.parquet(path).count() === 2L,
      "exactly the past-horizon tombstone row must drop")
    assert(MaterializedAgg.committedBatch(spark, path) === batchBefore,
      "GC must not disturb the replay decision")
    val snap = CdcMerge.readSnapshot(spark, path).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(!snap.contains(1L))
    assert(!snap(2L).getAs[Boolean]("is_live"))
    assert(snap(3L).getAs[Boolean]("is_live"))
    // a late upsert OLDER than the RETAINED tombstone still loses
    CdcMerge.applyOnce(feedDf(Seq(
      (2L, 985L, 6L, "upsert", 9.0, 9))), path, 1L)
    val after = CdcMerge.readSnapshot(spark, path).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(!after(2L).getAs[Boolean]("is_live"),
      "within-horizon tombstone must still defeat an older late upsert")
    assert(after(2L).getAs[String]("last_op") === "delete")
  }

  test("maintained CDC survives a REAL kill between state swap and " +
      "checkpoint commit (X71 source): restart replays, mergeOnce " +
      "skips, read-back == one-shot") {
    import graft.streaming.EmbeddedLog
    val path = tmpDir("cdc-ks") + "/state"
    val ckpt = tmpDir("cdc-ks-ckpt")
    EmbeddedLog.createTopic("cdcks", 2)
    val rs = (0 until 40).map { i =>
      val op = if (i % 5 == 4) "delete" else "upsert"
      ((i % 7).toLong, 1000L + i, i.toLong, op, i.toDouble, i % 3)
    }
    rs.foreach { case (u, us, id, op, v, k) =>
      EmbeddedLog.sendString("cdcks", u.toString,
        s"""{"user_id":$u,"us":$us,"event_id":$id,"op":"$op","value":$v,"k":$k}""",
        us)
    }
    val killOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream
        .format(classOf[graft.streaming.EmbeddedLogProvider].getName)
        .option("topic", "cdcks").option("startingOffsets", "earliest")
        .option("maxRecordsPerTrigger", "15")
        .load()
        .selectExpr("from_json(CAST(value AS STRING), 'user_id BIGINT, " +
          "us BIGINT, event_id BIGINT, op STRING, value DOUBLE, k INT') " +
          "AS j")
        .selectExpr("j.user_id AS user_id", "j.us AS us",
          "j.event_id AS event_id", "j.op AS op", "j.value AS value",
          "j.k AS k")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          CdcMerge.applyOnce(b, path, id)
          // the crash window under test: state swapped, checkpoint
          // for this batch NOT yet committed
          if (id == 1L && killOnce.getAndSet(false))
            throw new RuntimeException("injected kill after state swap")
        }
        .start()
    val q1 = run()
    intercept[Exception] { q1.processAllAvailable() }
    val q2 = run() // restart from the SAME checkpoint → batch 1 replays
    q2.processAllAvailable()
    q2.stop()
    assert(rows(CdcMerge.readSnapshot(spark, path)) ===
      rows(CdcMerge.render(CdcMerge.partials(feedDf(rs)))),
      "post-recovery snapshot must equal the one-shot batch merge")
    EmbeddedLog.dropTopic("cdcks")
  }
}
