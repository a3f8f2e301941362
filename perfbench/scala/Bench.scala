package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. One JVM runs one workload:
  *
  * {{{
  * java ... perfbench.Bench --workload absa_live --seed 1 --seconds 10 \
  *   --trace 0 --work <dir> --cpus 4 --warmup 10 --fault none \
  *   --dashboards q21_absa_scores,... --statistics q205_ks_drift,...
  * }}}
  *
  * It writes `<work>/result.json`: the end-to-end values of the timed
  * window, the per-layer values of the traced window (trace runs only),
  * the attempted/failed counts of its own output checks, and the run's
  * validity problems. `run.py` turns that file into the one-line result.
  */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cpus: Int, fault: String,
      warmup: Double, dashboards: Seq[String], statistics: Seq[String])

  /** What one workload hands back: end-to-end values of the timed window,
    * per-layer values (traced window only), overhead (traced − untraced),
    * and the check tally.
    */
  final class Outcome {
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val overhead = mutable.LinkedHashMap[String, Double]()
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer[String]()
    val extra = mutable.LinkedHashMap[String, String]()

    def fail(n: Long, why: String): Unit =
      if (n > 0) {
        failed += n
        problems += s"$n: $why"
      }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"),
      need("cpus").toInt, need("fault"), need("warmup").toDouble,
      need("dashboards").split(",").toSeq, need("statistics").split(",").toSeq)
  }

  /** JVM start, as the epoch millisecond the runtime recorded. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def session(a: Args, cpus: Int): SparkSession = {
    val s = graft.GraftSession.builder(cpus)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val out = a.workload match {
      case "absa_live" => Streams.absa(a)
      case "vehicle_drain" => Streams.vehicle(a)
      case "curation_live" => Streams.curation(a)
      case "dashboard_queries" => Dashboard.run(a)
      case other =>
        throw new IllegalArgumentException(s"unknown workload: $other")
    }
    if (a.trace)
      Files.write(Paths.get(a.work, "spans.jsonl"),
        Spans.all.asScala.map(s => Json.obj(Seq("name" -> Json.str(s.name),
          "parent" -> Json.str(s.parent), "start_ns" -> s.startNs.toString,
          "end_ns" -> s.endNs.toString))).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(a.work, "result.json"),
      Json.outcome(out).getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def nums(m: collection.Map[String, Double]): String =
    obj(m.map { case (k, v) => k -> num(v) })

  def outcome(o: Bench.Outcome): String = obj(Seq(
    "e2e" -> nums(o.e2e),
    "layer" -> nums(o.layer),
    "overhead" -> nums(o.overhead),
    "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "problems" -> o.problems.map(str).mkString("[", ", ", "]"),
    "extra" -> obj(o.extra.map { case (k, v) => k -> str(v) })))
}

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
