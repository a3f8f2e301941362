package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans recorded around each call the benchmark makes into a layer.
  * Off unless the run is traced; kept in memory and written out with the
  * trace report when the run ends.
  */
object Spans {
  final case class Span(name: String, startNs: Long, endNs: Long,
      parent: String)

  @volatile var on = false
  val all = new ConcurrentLinkedQueue[Span]()

  /** Records the spans of `f`. */
  def recording[T](f: => T): T = {
    on = true
    try f finally on = false
  }

  def apply[T](name: String, parent: String = "")(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f
      finally all.add(Span(name, t0, System.nanoTime(), parent))
    }

  def durationsMs(name: String): Seq[Double] =
    all.asScala.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq
}

/** Spark's own listener events, time-stamped so any window can be cut
  * out afterwards: job starts (with call site) and task-end metrics.
  */
final class EngineListener extends SparkListener {
  final case class Job(timeMs: Long, callSite: String)
  final case class Task(timeMs: Long, inputBytes: Long, outputBytes: Long,
      shuffleBytes: Long, spillBytes: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    jobs.add(Job(e.time, site))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.finishTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private def in(t: Long, w: Window) = t > w.startMs && t <= w.endMs

  def jobsIn(w: Window): Seq[Job] = jobs.asScala.filter(j => in(j.timeMs, w)).toSeq
  def tasksIn(w: Window): Seq[Task] = tasks.asScala.filter(t => in(t.timeMs, w)).toSeq
}

/** A measured interval in epoch milliseconds. */
final case class Window(startMs: Long, endMs: Long)

/** Process-level resource counters, read at both ends of a window. */
final class Resources {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def cpuNs = os.getProcessCpuTime
  private def gcMs = gcs.map(_.getCollectionTime).sum

  private var cpu0, gc0, wall0 = 0L
  private var compiles0 = 0L

  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    cpu0 = cpuNs; gc0 = gcMs; wall0 = System.nanoTime()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** (cpu utilisation of all cores, gc ms, heap peak MB, codegen
    * compiles, codegen ms) since [[start]].
    */
  def stop(cores: Int): (Double, Double, Double, Long, Double) = {
    val wall = System.nanoTime() - wall0
    val heap = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles = h.getCount - compiles0
    // the histogram keeps a sample, so compile time is its sampled mean
    // times the exact compile count
    val ms = compiles * h.getSnapshot.getMean
    ((cpuNs - cpu0).toDouble / (wall.toDouble * cores), (gcMs - gc0).toDouble,
      heap, compiles, ms)
  }
}
