package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults are tuned for the test harness (local[32], 128 GiB host) but
  * every setting is the one we'd ship on a real cluster too: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to the parallelism at hand rather than the 200 default,
  * UTC session time zone so results are reproducible against the DuckDB
  * oracle.
  *
  * Two settings keep a streaming commit free of child processes. Every
  * micro-batch writes two small checkpoint files (the offset WAL entry and
  * the commit entry). Without libhadoop, Spark's default FileContext
  * checkpoint manager forks `readlink` and `chmod` processes for each
  * file, which was most of a small batch's fixed cost (the two writes'
  * medians fell from 41 and 44 ms to 1 and 2 ms in a traced ABSA stream
  * on 4 cores once both settings were in place):
  *  - `checkpointFileManagerClass` selects Spark's own
  *    `FileSystemBasedCheckpointFileManager`, which writes through
  *    `FileSystem` and renames without reading links;
  *  - `fs.file.impl` serves `file:` with [[NioLocalFileSystem]], whose
  *    `setPermission` uses `java.nio` instead of forking `chmod`. Parquet
  *    writes and every other `file:` write go through it too.
  *
  * Both assume the local filesystem that every `local[n]` session here
  * uses: the checkpoint manager's rename is atomic on a POSIX disk, and
  * the NIO permission call needs a POSIX filesystem. A cluster whose
  * checkpoints live on HDFS or an object store sets its own manager.
  */
object GraftSession {
  def builder(cpus: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata timestamps are parquet TIMESTAMP(MICROS, isAdjustedToUTC
      // =false); read them as session-tz TIMESTAMP (UTC above) rather than
      // TIMESTAMP_NTZ so epoch arithmetic (cast to double, unix_timestamp)
      // works and matches DuckDB's naive read of the same file. Older
      // generations used TIMESTAMP(NANOS); keep nanosAsLong so those scans
      // arrive as long nanos (converted to micros in Tables) too.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  def local(cpus: Int = 32): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Hadoop's checksummed `file:` filesystem over [[NioRawLocalFileSystem]]
  * (see [[GraftSession]] for why).
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets POSIX bits through
  * `java.nio` in-process. Without libhadoop, `RawLocalFileSystem` itself
  * forks `chmod` for every file and directory it creates. A sticky bit has
  * no NIO form, so that case keeps the superclass's path.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      import PosixFilePermission._
      val bits = new java.util.HashSet[PosixFilePermission]()
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
          x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) bits.add(r)
        if (a.implies(FsAction.WRITE)) bits.add(w)
        if (a.implies(FsAction.EXECUTE)) bits.add(x)
      }
      add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
}
