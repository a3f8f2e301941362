package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.perfbenchbus.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

import Bench.{Args, Outcome}

/** `dashboard_queries`: one client refreshing both dashboards and then the
  * statistics queries, back to back, over seeded parquet tables. Every
  * result is fully materialized through the `noop` sink. The first refresh
  * writes each result to parquet instead, for the DuckDB oracle check that
  * `run.py` makes after the JVM exits. A traced `absa_live` run makes the
  * same set-up refresh and one traced refresh, for the query layer.
  * The query names come from `run.py` (`--dashboards`, `--statistics`).
  */
object Dashboard {

  /** Timings of one query run, in ms: build, plan (traced only), execute. */
  final case class Run(name: String, buildMs: Double, planMs: Double,
      execMs: Double) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def runOne(spark: SparkSession, data: String, name: String,
      write: DataFrame => Unit, trace: Boolean): Run = {
    val t0 = System.nanoTime()
    val df = Spans("query.build", name)(SparkEntry.queries(name)(spark, data))
    val build = ms(t0)
    val t1 = System.nanoTime()
    if (trace) Spans("query.plan", name)(df.queryExecution.executedPlan)
    val plan = if (trace) ms(t1) else 0.0
    val t2 = System.nanoTime()
    Spans("query.exec", name)(write(df))
    Run(name, build, plan, ms(t2))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One refresh: the 8 dashboard queries, then the 9 statistics queries. */
  private def refresh(spark: SparkSession, a: Args, trace: Boolean): Seq[Run] =
    (a.dashboards ++ a.statistics).map(n =>
      runOne(spark, s"${a.work}/data", n, noop, trace))

  /** The set-up refresh: every query once, cold, its result written to
    * parquet next to its oracle SQL.
    */
  private def setupRefresh(spark: SparkSession, a: Args): Unit = {
    val out = s"${a.work}/results"
    val names = a.dashboards ++ a.statistics
    names.foreach { n =>
      runOne(spark, s"${a.work}/data", n,
        df => df.write.mode("overwrite").parquet(s"$out/$n"), trace = false)
    }
    val oracle = SparkEntry.oracleSql
    Files.write(Paths.get(out, "oracle_sql.json"),
      Json.obj(names.map(n => n -> Json.str(oracle(n))))
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Query-layer metrics of the traced refreshes `rs`, which ran in `w`. */
  private def queryLayers(o: Outcome, a: Args, rs: Seq[Seq[Run]],
      listener: EngineListener, w: Window): Unit = {
    val n = rs.size.toDouble
    val runs = rs.flatten
    val tasks = listener.tasksIn(w)
    o.layer ++= Seq(
      "query.build_ms_p50" -> Stats.median(runs.map(_.buildMs)),
      "query.plan_ms_p50" -> Stats.median(runs.map(_.planMs)),
      "query.exec_ms_p50" -> Stats.median(runs.map(_.execMs)),
      "query.jobs_per_refresh" -> listener.jobsIn(w).size / n,
      "query.scan_bytes_per_refresh" -> tasks.map(_.inputBytes).sum / n,
      "query.shuffle_bytes_per_refresh" -> tasks.map(_.shuffleBytes).sum / n,
      "query.spill_bytes_per_refresh" -> tasks.map(_.spillBytes).sum / n)
    (a.dashboards ++ a.statistics).foreach { q =>
      o.layer(s"query.$q.ms_p50") =
        Stats.median(runs.filter(_.name == q).map(_.totalMs))
    }
  }

  /** Runs `f` with a fresh listener and resource counters attached and
    * spans on; returns its value, the listener, the counters' reading and
    * the window it ran in.
    */
  private def traced[T](spark: SparkSession)(f: => T)
      : (T, EngineListener, (Double, Double, Double, Long, Double), Window) = {
    val listener = new EngineListener
    val res = new Resources
    spark.sparkContext.addSparkListener(listener)
    res.start()
    val t0 = System.currentTimeMillis()
    val v = Spans.recording(f)
    val usage = res.stop(spark.sparkContext.defaultParallelism)
    val w = Window(t0, System.currentTimeMillis())
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    (v, listener, usage, w)
  }

  /** A traced run's pass over the query layer: the set-up refresh, then
    * one traced refresh.
    */
  def queryPass(a: Args, spark: SparkSession, o: Outcome): Unit = {
    setupRefresh(spark, a)
    val (r, listener, _, w) = traced(spark)(refresh(spark, a, trace = true))
    queryLayers(o, a, Seq(r), listener, w)
  }

  private def sum(rs: Seq[Run], names: Seq[String]): Double =
    rs.filter(r => names.contains(r.name)).map(_.totalMs).sum

  def run(a: Args): Outcome = {
    val o = new Outcome
    val spark = Bench.session(a, a.cpus)
    setupRefresh(spark, a)
    o.e2e("setup_s") = (System.currentTimeMillis() - Bench.jvmStartMs) / 1000.0

    (0 until math.max(0, a.warmup.toInt)).foreach(_ => refresh(spark, a, false))

    /** Refreshes started within `seconds`, at least one. */
    def window(trace: Boolean): Seq[Seq[Run]] = {
      val end = System.currentTimeMillis() + (a.seconds * 1000).toLong
      val rs = Seq.newBuilder[Seq[Run]]
      do rs += refresh(spark, a, trace)
      while (System.currentTimeMillis() < end)
      rs.result()
    }
    /** Latency is panel latency: from the start of a refresh to the end
      * of each query in it, so p50 is when half of the
      * 17 panels are ready (the median over refreshes). The rate counts
      * queries finished per second of refreshing.
      */
    def e2e(rs: Seq[Seq[Run]]) = {
      def ready(q: Double) = Stats.median(rs.map(r =>
        Stats.quantile(r.scanLeft(0.0)(_ + _.totalMs).tail, q)))
      val q = rs.flatten.map(_.totalMs)
      Map(
        "latency_p50_ms" -> ready(0.5),
        "sustained_rate_per_s" -> q.size * 1000.0 / q.sum,
        "refresh_p50_ms" -> Stats.median(rs.map(sum(_, a.dashboards))),
        "stats_refresh_p50_ms" -> Stats.median(rs.map(sum(_, a.statistics))))
    }

    val timed = window(trace = false)
    o.e2e ++= e2e(timed)
    o.extra("timed_refreshes") = timed.size.toString
    o.attempted += timed.size * (a.dashboards.size + a.statistics.size).toLong

    if (a.trace) {
      val (rs, listener, (cpu, gc, heap, compiles, cgMs), tw) =
        traced(spark)(window(trace = true))
      e2e(rs).foreach { case (k, v) => o.overhead(k) = v - o.e2e(k) }
      val n = rs.size.toDouble
      o.layer ++= Seq(
        "engine.jobs_per_batch" -> listener.jobsIn(tw).size / n,
        "engine.tasks_per_batch" -> listener.tasksIn(tw).size / n,
        "engine.codegen_compiles_per_batch" -> compiles / n,
        "engine.codegen_ms_per_batch" -> cgMs / n,
        "engine.cpu_util" -> cpu,
        "engine.gc_ms" -> gc,
        "engine.heap_peak_mb" -> heap)
      queryLayers(o, a, rs, listener, tw)
    }
    o
  }
}
