package graft.operators

import org.apache.spark.sql.SparkSession

/** Graph-tier shuffle-partition scaling (r16, VERDICT r15 item 1).
  *
  * The r15 SCALE.md adjudication blamed q168/q175's super-linear
  * second-decade exponents (1.27/1.32) on per-partition sort and
  * checkpoint volume under the session's fixed 32 shuffle partitions,
  * without running the experiment. r16 ran it (a partition sweep, sf10
  * replica corpus, 60M lineitem → ~240M directed co-purchase edges):
  *
  *   q175 sf10  parts=32: 371.5 s   parts=128: 193.2 s   parts=256: 292.1 s
  *   q175 sf1   parts=32:  18.9 s   parts=128:  25.3 s
  *   (AQE initialPartitionNum=256/512 instead: 414.8 / 230.9 s at sf10
  *    and +10–30 % at sf1 — coalescing fights the explicit
  *    `repartition(src)`, so the AQE route is strictly worse here.)
  *
  * The spill hypothesis holds: partitions scaled with input cut sf10
  * wall time 1.9×, while at sf1 (and below) 32 stays optimal — so the
  * right rule is input-proportional with the session parallelism as
  * the floor. This helper sets `spark.sql.shuffle.partitions` to
  * max(defaultParallelism, inputBytes / 8 MB) for the graph queries
  * whose working set is the DERIVED edge frame (~20 edge rows per
  * basket input row here): 8 MB of compressed basket input per
  * partition keeps each partition's edge sort inside executor memory
  * on this host. On a real cluster the same rule reads "size shuffle
  * partitions from the edge-frame estimate, not the executor count".
  *
  * The conf is scoped per query by the HARNESSES: Bench and Verify
  * reset `spark.sql.shuffle.partitions` to the session default before
  * each query build, so a graph query's scaling never leaks into the
  * next query's plan.
  */
object GraphScale {

  /** Compressed input bytes per shuffle partition (measured knee). */
  val BytesPerPartition: Long = 8L << 20

  val MaxPartitions = 1024

  /** Scale the session's shuffle partitions to the lineitem input
    * under `dir` (the basket source of every graph query). A missing
    * lineitem table counts as 0 bytes, so the session parallelism
    * floor applies; any other IO failure propagates.
    */
  def apply(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
    val bytes =
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    val parts = math.max(s.sparkContext.defaultParallelism.toLong,
      math.min(MaxPartitions.toLong, bytes / BytesPerPartition))
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
  }
}
