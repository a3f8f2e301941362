package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[VersionedTable]] (X110) oracles: snapshot isolation (a resolved
  * version keeps reading its exact file list through appends AND a
  * compaction — the reader window [[Warehouse.compact]] documents is
  * gone), time travel, crash windows at every commit step, compaction
  * equivalence, and vacuum reclaiming only unreferenced files.
  */
class VersionedTableSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rows(from: Int, n: Int) =
    (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "s")

  private def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq

  test("append commits versions; time travel reads every old version " +
      "exactly; latest follows") {
    val root = tmpDir("vt")
    assert(VersionedTable.overwrite(rows(0, 10), root) === 1L)
    assert(VersionedTable.append(rows(10, 5), root) === 2L)
    assert(VersionedTable.append(rows(15, 5), root) === 3L)
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 20L))
    assert(idsOf(VersionedTable.read(spark, root, 1)) === (0L until 10L))
    assert(idsOf(VersionedTable.read(spark, root, 2)) === (0L until 15L))
  }

  test("snapshot isolation: a reader pinned BEFORE a compaction and an " +
      "append still reads its exact version afterwards — no missing-" +
      "directory window, unlike the plain swap") {
    val root = tmpDir("vt-iso")
    VersionedTable.overwrite(rows(0, 10).repartition(6), root)
    VersionedTable.append(rows(10, 10).repartition(6), root)
    val pinned = VersionedTable.latestVersion(spark, root) // = 2
    val pinnedFiles = VersionedTable.manifest(spark, root, pinned)
    // writer activity after the pin: compact + another append
    val v3 = VersionedTable.compact(spark, root, targetFiles = 2)
    VersionedTable.append(rows(20, 5), root)
    assert(v3 === 3L)
    // the pinned reader still sees ITS data, byte-complete
    assert(idsOf(VersionedTable.read(spark, root, pinned)) ===
      (0L until 20L))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    pinnedFiles.foreach(n => assert(
      f.exists(new org.apache.hadoop.fs.Path(s"$root/$n")),
      s"pinned file $n must survive later commits"))
    // and latest reflects everything
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 25L))
  }

  test("compaction shrinks the file count without changing the data") {
    val root = tmpDir("vt-compact")
    VersionedTable.overwrite(rows(0, 100).repartition(20), root)
    val before = VersionedTable
      .manifest(spark, root, VersionedTable.latestVersion(spark, root))
    VersionedTable.compact(spark, root, targetFiles = 2)
    val after = VersionedTable
      .manifest(spark, root, VersionedTable.latestVersion(spark, root))
    assert(before.size >= 20 && after.size <= 2)
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 100L))
  }

  test("crash windows: data files written but manifest missing, or " +
      "manifest written but pointer stale — the committed state is " +
      "never corrupted and retry works") {
    val root = tmpDir("vt-crash")
    VersionedTable.overwrite(rows(0, 10), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // window 1: kill after data write, before manifest — orphans only
    rows(10, 5).write.mode("overwrite").parquet(s"$root/stage-dead")
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 10L))
    // window 2: manifest v2 written, pointer still v1 (the overwrite-
    // rename makes this unreachable on posix; simulate a filesystem
    // without it) — recovery reads the highest complete manifest
    val extra = VersionedTable.latestVersion(spark, root)
    VersionedTable.append(rows(10, 5), root) // v2 committed properly
    f.delete(new org.apache.hadoop.fs.Path(s"$root/_latest"), false)
    assert(VersionedTable.latestVersion(spark, root) === extra + 1,
      "pointer loss must recover from the manifests")
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 15L))
    // a retry on the recovered state commits the NEXT version cleanly
    VersionedTable.append(rows(15, 5), root)
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 20L))
  }

  test("writer lease: a LIVE second writer fails loudly with " +
      "ConcurrentWriteException; a STALE (crashed-writer) lock is " +
      "broken and the commit proceeds; vacuum keepFrom > latest is " +
      "rejected before it can reclaim live files") {
    val root = tmpDir("vt-lock")
    VersionedTable.overwrite(rows(0, 10), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$root/_writer.lock")
    // another writer holds a FRESH lease → this table is single-writer
    val out = f.create(lock, false)
    out.write("other-writer".getBytes); out.close()
    intercept[VersionedTable.ConcurrentWriteException] {
      VersionedTable.append(rows(10, 5), root)
    }
    intercept[VersionedTable.ConcurrentWriteException] {
      VersionedTable.compact(spark, root, targetFiles = 1)
    }
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 10L),
      "the rejected writer must not have committed anything")
    // a crashed writer's residue: age the lock past LockStaleMs — the
    // next commit breaks it (liveness) and proceeds
    f.setTimes(lock,
      System.currentTimeMillis() - VersionedTable.LockStaleMs - 1000, -1)
    assert(VersionedTable.append(rows(10, 5), root) === 2L)
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 15L))
    assert(!f.exists(lock), "lease released after the commit")
    // the ADVICE r12 vacuum guard: an off-by-one keepFrom must throw,
    // not delete every live data file
    intercept[IllegalArgumentException] {
      VersionedTable.vacuum(spark, root,
        keepFrom = VersionedTable.latestVersion(spark, root) + 1)
    }
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 15L))
  }

  test("writer lease: a stat of a HELD lock that fails with anything " +
      "but FileNotFound propagates and breaks no lease") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.statfail.impl", classOf[StatFailingFileSystem].getName)
    conf.setBoolean("fs.statfail.impl.disable.cache", true)
    try {
      val dir = tmpDir("vt-statfail")
      // a live writer's fresh lease
      val lock = java.nio.file.Paths.get(dir, "_writer.lock")
      java.nio.file.Files.writeString(lock, "live-writer")
      val err = intercept[java.io.IOException] {
        VersionedTable.append(rows(0, 5), s"statfail://$dir")
      }
      assert(err.getMessage.contains("injected"), err.getMessage)
      assert(java.nio.file.Files.exists(lock) &&
        java.nio.file.Files.readString(lock) == "live-writer",
        "the held lease must survive a failed stat")
    } finally {
      conf.unset("fs.statfail.impl")
      conf.unset("fs.statfail.impl.disable.cache")
    }
  }

  test("OPTIMIZE ZORDER: a versioned rewrite clustered on (partkey, " +
      "orderkey) preserves the data exactly, leaves pinned readers on " +
      "the old layout, and gives files compact second-column spans a " +
      "round-robin layout doesn't") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
    val root = tmpDir("vt-zorder")
    // ingest shape: arrival-ordered appends → every file spans the
    // whole key space
    VersionedTable.overwrite(li.filter(col("l_orderkey") % 2 === 0)
      .repartition(8), root)
    VersionedTable.append(li.filter(col("l_orderkey") % 2 === 1)
      .repartition(8), root)
    val pinned = VersionedTable.latestVersion(spark, root) // = 2
    val pinnedRows = VersionedTable.read(spark, root, pinned).count()

    def fileSpans(df: org.apache.spark.sql.DataFrame): Seq[Double] = {
      val agg = df.groupBy(input_file_name())
        .agg(min(col("l_orderkey")).as("olo"),
          max(col("l_orderkey")).as("ohi"))
        .select(col("olo"), col("ohi")).collect()
      val lo = agg.map(_.getLong(0)).min.toDouble
      val hi = agg.map(_.getLong(1)).max.toDouble
      agg.map(r => (r.getLong(1) - r.getLong(0)).toDouble / (hi - lo)).toSeq
    }
    val beforeSpans = fileSpans(VersionedTable.read(spark, root, pinned))

    val v = VersionedTable.optimizeZOrder(spark, root,
      "l_partkey", "l_orderkey", targetFiles = 16)
    assert(v === pinned + 1)
    // data identical (multiset equality via sorted full-row render)
    def snap(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey")).collect().map(_.toString).sorted.toSeq
    assert(snap(VersionedTable.read(spark, root)) ===
      snap(li), "OPTIMIZE must not change the data")
    // pinned reader still sees its exact version (old files alive)
    assert(VersionedTable.read(spark, root, pinned).count() === pinnedRows)
    // layout claim: mean per-file orderkey span shrinks materially —
    // round-robin files each span ~the whole range (~1.0), z-files
    // cover compact rectangles
    val afterSpans = fileSpans(VersionedTable.read(spark, root))
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    assert(mean(afterSpans) < 0.6 * mean(beforeSpans),
      s"z spans ${mean(afterSpans)} vs ingest ${mean(beforeSpans)}")
  }

  test("GDPR purge (r16, VERDICT r15 item 4): the purge commit " +
      "rewrites ONLY affected files and carries the rest; a reader " +
      "pinned during the purge keeps time-travel access to the purged " +
      "rows; vacuum is the byte-erasure point — old files physically " +
      "gone, post-vacuum read-back clean; a no-match purge carries " +
      "every file unchanged") {
    val root = tmpDir("vt-purge")
    // batch A (ids 0–9) will be untouched by the request; batch B
    // (ids 10–19) contains the requested id 13
    VersionedTable.overwrite(rows(0, 10).repartition(2), root)
    VersionedTable.append(rows(10, 10).repartition(2), root)
    val pinned = VersionedTable.latestVersion(spark, root) // = 2
    val beforeFiles = VersionedTable.manifest(spark, root, pinned)

    val v = VersionedTable.purge(spark, root, col("id") === 13)
    assert(v === pinned + 1)
    val afterFiles = VersionedTable.manifest(spark, root, v)
    val carried = beforeFiles.toSet intersect afterFiles.toSet
    val dropped = beforeFiles.toSet -- afterFiles.toSet
    assert(carried.nonEmpty,
      "files without affected rows must carry over (same physical file)")
    assert(dropped.nonEmpty, "the affected file must be replaced")
    // latest read-back: exactly the requested row is gone
    assert(idsOf(VersionedTable.read(spark, root)) ===
      (0L until 20L).filterNot(_ == 13L))
    // pinned reader resolved BEFORE the purge: time travel still shows
    // the purged row (erasure is not yet physical — that is vacuum's
    // job, and exactly why retention is the compliance deadline)
    assert(idsOf(VersionedTable.read(spark, root, pinned)).contains(13L))

    VersionedTable.vacuum(spark, root, keepFrom = v)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dropped.foreach(n => assert(
      !f.exists(new org.apache.hadoop.fs.Path(s"$root/$n")),
      s"vacuum must physically delete the pre-purge file $n"))
    intercept[Exception] { // the pinned version is gone, loudly
      VersionedTable.read(spark, root, pinned).collect()
    }
    assert(idsOf(VersionedTable.read(spark, root)) ===
      (0L until 20L).filterNot(_ == 13L))

    // no-match purge: every file carries over unchanged
    val v2 = VersionedTable.purge(spark, root, col("id") === 9999L)
    assert(VersionedTable.manifest(spark, root, v2).toSet ===
      afterFiles.toSet)
  }

  test("CAS multi-writer (r16, VERDICT r15 stretch 8): two writers " +
      "racing 8 appends each through the arbiter all commit — no " +
      "lost update, strictly linear version chain, every batch " +
      "readable at the final pointer") {
    val root = tmpDir("vt-cas")
    val writers = 2; val each = 8
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        (0 until each).foreach { i =>
          val batchId = (w * each + i) * 10
          results.add(VersionedTable.appendCas(
            rows(batchId, 10), root, VersionedTable.InMemoryCas))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val versions = results.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).sorted.toSeq
    // linear chain: every version 1..16 committed exactly once —
    // a lost CAS update would duplicate or skip a version
    assert(versions === (1L to (writers * each)))
    // no lost rows: the final manifest carries every batch
    assert(idsOf(VersionedTable.readCas(spark, root,
      VersionedTable.InMemoryCas)).size === writers * each * 10)
    // and a fresh single append still linearizes on top
    val v = VersionedTable.appendCas(rows(9000, 5), root,
      VersionedTable.InMemoryCas)
    assert(v === (writers * each + 1).toLong)
    assert(idsOf(VersionedTable.readCas(spark, root,
      VersionedTable.InMemoryCas)).contains(9000L))
  }

  test("vacuum reclaims only files no kept manifest references") {
    val root = tmpDir("vt-vacuum")
    VersionedTable.overwrite(rows(0, 50).repartition(8), root)
    VersionedTable.compact(spark, root, targetFiles = 1)
    val keptV = VersionedTable.latestVersion(spark, root)
    VersionedTable.vacuum(spark, root, keepFrom = keptV)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = f.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .map(s => s"data/${s.getPath.getName}").toSet
    assert(live === VersionedTable.manifest(spark, root, keptV).toSet,
      "exactly the kept manifest's files survive")
    assert(idsOf(VersionedTable.read(spark, root)) === (0L until 50L))
    intercept[Exception] { // vacuumed history is gone, loudly
      VersionedTable.read(spark, root, 1).collect()
    }
  }
}

/** The local filesystem under its own `statfail` scheme, whose
  * `getFileStatus` on the writer lock fails with a plain IOException —
  * a flaky stat (an RPC timeout, a permission glitch) of a lock a live
  * writer holds.
  */
class StatFailingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("statfail:///")
  override def getScheme: String = "statfail"
  override def getFileStatus(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus =
    if (p.getName == "_writer.lock")
      throw new java.io.IOException(s"injected stat failure on $p")
    else super.getFileStatus(p)
}
