package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[GraphScale]]: a directory without a lineitem table gets the
  * session parallelism floor, and an IO failure while sizing the
  * table propagates instead of silently reading as 0 bytes.
  */
class GraphScaleSpec extends AnyFunSuite with SparkSpec {

  private val Key = "spark.sql.shuffle.partitions"

  /** Run `body`, then put the shared session's shuffle partitions back. */
  private def keepingPartitions(body: => Unit): Unit = {
    val before = spark.conf.get(Key)
    try body finally spark.conf.set(Key, before)
  }

  test("no lineitem.parquet: shuffle partitions fall to the " +
      "defaultParallelism floor") {
    keepingPartitions {
      spark.conf.set(Key, "3")
      GraphScale(spark, tmpDir("graphscale-empty"))
      assert(spark.conf.get(Key) ===
        spark.sparkContext.defaultParallelism.toString)
    }
  }

  test("an IOException from getContentSummary propagates") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.csfail.impl", classOf[SummaryFailingFileSystem].getName)
    conf.setBoolean("fs.csfail.impl.disable.cache", true)
    try keepingPartitions {
      spark.conf.set(Key, "3")
      val err = intercept[java.io.IOException] {
        GraphScale(spark, s"csfail://${tmpDir("graphscale-fail")}")
      }
      assert(err.getMessage.contains("injected"), err.getMessage)
      assert(spark.conf.get(Key) === "3", "no partition count was set")
    } finally {
      conf.unset("fs.csfail.impl")
      conf.unset("fs.csfail.impl.disable.cache")
    }
  }
}

/** The local filesystem under its own `csfail` scheme, whose
  * `getContentSummary` fails with a plain IOException — an unreadable
  * directory or a storage RPC timeout, not a missing table.
  */
class SummaryFailingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("csfail:///")
  override def getScheme: String = "csfail"
  override def getContentSummary(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.ContentSummary =
    throw new java.io.IOException(s"injected content-summary failure on $p")
}
