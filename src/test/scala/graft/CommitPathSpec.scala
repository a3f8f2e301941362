package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.security.Permission
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The streaming commit path that [[GraftSession]] selects: Spark's
  * `FileSystem`-based checkpoint manager over [[NioLocalFileSystem]], so a
  * micro-batch's offset and commit files are written without forking a
  * child process.
  */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private def hadoopConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  test("session resolves the FileSystem checkpoint manager and the NIO local FS") {
    val dir = new Path(tmpDir("commit-resolve"))
    assert(CheckpointFileManager.create(dir, hadoopConf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(dir.getFileSystem(hadoopConf).isInstanceOf[NioLocalFileSystem])
  }

  test("a file written through the NIO FS keeps the default mode and its .crc") {
    val dir = tmpDir("commit-mode")
    val fs = FileSystem.getLocal(hadoopConf)
    val out = fs.create(new Path(dir, "part"))
    try out.writeBytes("commit") finally out.close()
    def mode(name: String) = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(dir, name)))
    assert(mode("part") === "rw-r--r--")
    assert(mode(".part.crc") === "rw-r--r--")
    assert(fs.getFileStatus(new Path(dir, "part")).getPermission.toString ===
      "rw-r--r--")
    // the checksum is real: a corrupted byte fails the checked read
    val raw = Paths.get(dir, "part")
    Files.write(raw, "commiT".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.ChecksumException] {
      val in = fs.open(new Path(dir, "part"))
      try in.readAllBytes() finally in.close()
    }
  }

  test("20 micro-batches commit without forking a process") {
    spark // the session and Hadoop's shell probes start before counting
    val execs = new ConcurrentLinkedQueue[String]()
    val counting = new SecurityManager {
      override def checkExec(cmd: String): Unit = execs.add(cmd)
      override def checkPermission(perm: Permission): Unit = ()
      override def checkPermission(perm: Permission, context: Any): Unit = ()
    }
    val input = MemoryStream[Int](spark)
    val rows = new AtomicLong
    System.setSecurityManager(counting)
    try {
      val q = input.toDF().writeStream
        .option("checkpointLocation", tmpDir("commit-ckpt"))
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (b: DataFrame, _: Long) =>
          rows.addAndGet(b.count()); ()
        }
        .start()
      try (1 to 20).foreach { i =>
        input.addData(i)
        q.processAllAvailable()
      } finally q.stop()
    } finally System.setSecurityManager(null)
    assert(rows.get === 20L)
    assert(execs.isEmpty, s"forked: ${execs.asScala.take(5).mkString("; ")}")
  }
}
