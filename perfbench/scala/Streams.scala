package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbus.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.CurationIngest
import graft.streaming.{AbsaPipeline, EmbeddedLog, EmbeddedLogProvider, ScorerProvider, VehiclePipeline}

import Bench.{Args, Outcome}

/** The three streaming workloads. Each drives the pipeline's public
  * functions over an [[EmbeddedLog]] topic fed from this JVM, and measures
  * from outside: progress events, the log's offsets and the sink.
  */
object Streams {

  /** One micro-batch that admitted rows: its progress event plus the log
    * offset range it read.
    */
  final case class Batch(id: Long, startMs: Long, endMs: Long,
      from: Array[Long], until: Array[Long], reportedRows: Long,
      durations: Map[String, Long]) {
    def rows: Long = from.indices.map(i => until(i) - from(i)).sum
    def ms(phase: String): Double = durations.getOrElse(phase, 0L).toDouble
  }

  private def offsets(json: String): Array[Long] = {
    val body = json.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) Array.empty else body.split(",").map(_.trim.toLong)
  }

  /** Collects every progress event of the query reading `topic`. */
  final class Progress(topic: String) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    @volatile var committed = 0L
    @volatile var last: Option[Batch] = None

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.head
      val until = offsets(src.endOffset)
      val from = Option(src.startOffset).map(offsets)
        .filter(_.length == until.length).getOrElse(Array.fill(until.length)(0L))
      committed = until.sum
      val start = Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val b = Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
        from, until, p.numInputRows, d)
      if (b.rows > 0) { batches.add(b); last = Some(b) }
    }

    def all: Seq[Batch] = batches.asScala.toSeq
    def in(w: Window): Seq[Batch] =
      all.filter(b => b.endMs > w.startMs && b.endMs <= w.endMs)
  }

  /** Open-loop generator: event k is due at t0 + k / rate, is stamped with
    * that due time as its `tsMillis`, and is sent as soon as it is due.
    * How late each send ran is kept for the validity guard.
    */
  final class OpenLoop(rate: Double, capacity: Int, first: Long,
      send: (Long, Long) => Unit) extends Thread("perfbench-generator") {
    setDaemon(true)
    @volatile private var running = true
    @volatile var sent = 0L
    val t0Ms: Long = System.currentTimeMillis() + 50
    private val late = new Array[Double](capacity)

    def dueMs(k: Long): Double = t0Ms + (k - first) * 1000.0 / rate

    override def run(): Unit = {
      var k = first
      while (running && k < capacity) {
        val due = dueMs(k)
        var now = System.currentTimeMillis()
        while (now < due) {
          LockSupport.parkNanos(((due - now) * 1e6).toLong)
          now = System.currentTimeMillis()
        }
        send(k, due.toLong)
        late(k.toInt) = System.currentTimeMillis() - due
        k += 1
        sent = k
      }
    }

    def halt(): Unit = { running = false; join() }

    def lateMaxMs(w: Window): Double =
      (first until sent).filter { k => val d = dueMs(k); d > w.startMs && d <= w.endMs }
        .map(k => late(k.toInt)).foldLeft(0.0)(math.max)
  }

  /** Samples the backlog (latest minus committed offset) every 50 ms. */
  final class Backlog(topic: String, progress: Progress)
      extends Thread("perfbench-backlog") {
    setDaemon(true)
    @volatile private var running = true
    val samples = new ConcurrentLinkedQueue[(Long, Long)]()

    override def run(): Unit = while (running) {
      samples.add(System.currentTimeMillis() ->
        (EmbeddedLog.endOffsets(topic).sum - progress.committed))
      Thread.sleep(50)
    }

    def halt(): Unit = { running = false; join() }

    def in(w: Window): Seq[Long] = samples.asScala
      .collect { case (t, b) if t > w.startMs && t <= w.endMs => b }.toSeq
  }

  private def sleepUntil(ms: Long): Unit = {
    val d = ms - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  private def source(spark: SparkSession, topic: String,
      cap: Option[Int]): DataFrame = {
    val r = spark.readStream.format(classOf[EmbeddedLogProvider].getName)
      .option("topic", topic).option("startingOffsets", "earliest")
    cap.fold(r)(c => r.option("maxRecordsPerTrigger", c.toString)).load()
  }

  /** Blocks until the first batch with rows has committed; returns its end. */
  private def firstCommit(p: Progress, q: StreamingQuery): Long = {
    while (p.batches.isEmpty) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    p.all.map(_.endMs).min
  }

  /** Timed window, then (traced runs only) a traced window of the same
    * length with Spark listeners, spans and resource counters attached.
    * The tracing overhead compares the traced window with the timed one.
    */
  private final class Windows(a: Args, spark: SparkSession) {
    val listener = new EngineListener
    val res = new Resources
    var timed: Window = _
    var traced: Option[Window] = None
    var usage: (Double, Double, Double, Long, Double) = _

    private def window(): Window = {
      val t0 = System.currentTimeMillis()
      val w = Window(t0, t0 + (a.seconds * 1000).toLong)
      sleepUntil(w.endMs)
      w
    }

    def run(startMs: Long): Unit = {
      sleepUntil(startMs)
      timed = window()
      if (a.trace) {
        spark.sparkContext.addSparkListener(listener)
        res.start()
        traced = Some(Spans.recording(window()))
        usage = res.stop(spark.sparkContext.defaultParallelism)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    def close(): Unit = Bus.drain(spark.sparkContext)
  }

  /** Event latencies (batch commit minus scheduled send) of `bs`. */
  private def latencies(topic: String, bs: Seq[Batch]): Seq[Double] =
    for {
      b <- bs
      p <- b.from.indices
      r <- EmbeddedLog.slice(topic, p, b.from(p), b.until(p))
    } yield (b.endMs - r.tsMillis).toDouble

  private def bytesRead(topic: String, bs: Seq[Batch]): Long =
    bs.iterator.flatMap(b => b.from.indices.iterator.flatMap(p =>
      EmbeddedLog.slice(topic, p, b.from(p), b.until(p)).iterator
        .map(_.value.length.toLong))).sum

  /** Rows committed per second over the batches that ended in `w`,
    * counted from the end of the last batch before it.
    */
  private def committedRate(p: Progress, w: Window): Double = {
    val in = p.in(w)
    val before = p.all.map(_.endMs).filter(_ <= w.startMs).maxOption
      .getOrElse(w.startMs)
    in.map(_.rows).sum * 1000.0 /
      math.max(1L, in.map(_.endMs).maxOption.getOrElse(w.endMs) - before)
  }

  /** The end-to-end values of a streaming window. There is no tail
    * percentile: events in one batch share its commit time, so a tail needs
    * at least 10 batches beyond it, and on a busy host a 20 s window holds
    * ~30 ABSA batches whose events beyond the p90, and even the p75, fell
    * in 8 or 9 of them.
    */
  private def endToEnd(topic: String, p: Progress, w: Window,
      into: collection.mutable.Map[String, Double]): Unit = {
    val bs = p.in(w)
    into("latency_p50_ms") = Stats.median(latencies(topic, bs))
    into("sustained_rate_per_s") = committedRate(p, w)
    into("refresh_p50_ms") = Stats.median(bs.map(_.ms("triggerExecution")))
    into("stats_refresh_p50_ms") = Stats.median(bs.map(_.ms("addBatch")))
  }

  /** Timed-window end-to-end values, and for a traced run the tracing
    * overhead: traced window minus timed window.
    */
  private def report(o: Outcome, topic: String, p: Progress, w: Windows): Unit = {
    endToEnd(topic, p, w.timed, o.e2e)
    o.extra("timed_batches") = p.in(w.timed).size.toString
    w.traced.foreach { tw =>
      val traced = collection.mutable.Map[String, Double]()
      endToEnd(topic, p, tw, traced)
      traced.foreach { case (k, v) => o.e2e.get(k).foreach(e => o.overhead(k) = v - e) }
    }
  }

  /** Per-layer metrics every streaming workload reports over the traced
    * window.
    */
  private def engineLayers(o: Outcome, topic: String, p: Progress,
      w: Windows, backlog: Backlog, gen: Option[OpenLoop]): Unit = {
    val tw = w.traced.get
    val bs = p.in(tw)
    val n = math.max(bs.size, 1).toDouble
    def p50(phase: String) = Stats.median(bs.map(_.ms(phase)))
    val jobs = w.listener.jobsIn(tw)
    val tasks = w.listener.tasksIn(tw)
    val rows = bs.map(_.rows).sum
    val events = for {
      b <- bs
      pid <- b.from.indices
      r <- EmbeddedLog.slice(topic, pid, b.from(pid), b.until(pid))
    } yield (b.startMs - r.tsMillis).toDouble
    val (cpu, gc, heap, compiles, cgMs) = w.usage
    o.layer ++= Seq(
      "log.rows_admitted" -> rows.toDouble,
      "log.bytes_read" -> bytesRead(topic, bs).toDouble,
      "log.latest_offset_ms_p50" -> p50("latestOffset"),
      "log.backlog_max" -> backlog.in(tw).foldLeft(0L)(math.max).toDouble,
      "gen.late_ms_max" -> gen.fold(0.0)(_.lateMaxMs(tw)),
      "engine.batches" -> bs.size.toDouble,
      "engine.rows_per_batch_p50" -> Stats.median(bs.map(_.rows.toDouble)),
      "engine.queue_wait_ms_p50" -> Stats.median(events),
      "engine.trigger_ms_p50" -> p50("triggerExecution"),
      "engine.planning_ms_p50" -> p50("queryPlanning"),
      "engine.wal_commit_ms_p50" -> p50("walCommit"),
      "engine.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "engine.add_batch_ms_p50" -> p50("addBatch"),
      "engine.jobs_per_batch" -> jobs.size / n,
      "engine.tasks_per_batch" -> tasks.size / n,
      "engine.codegen_compiles_per_batch" -> compiles / n,
      "engine.codegen_ms_per_batch" -> cgMs / n,
      "engine.rows_reported_ratio" ->
        bs.map(_.reportedRows).sum.toDouble / math.max(rows, 1L),
      "engine.cpu_util" -> cpu,
      "engine.gc_ms" -> gc,
      "engine.heap_peak_mb" -> heap)
  }

  /** Run-validity guards of an open-loop window: the backlog must not grow
    * and the generator must not run late. A tripped guard is a failure,
    * never a latency.
    */
  private def guard(o: Outcome, name: String, w: Window, backlog: Backlog,
      gen: OpenLoop, rate: Double, p: Progress): Unit = {
    val s = backlog.in(w).map(_.toDouble)
    // growth allowance: one second of input or two batches of it,
    // whichever is larger (the backlog saw-tooths by a batch)
    val allow = rate * math.max(1.0,
      2 * Stats.median(p.in(w).map(_.ms("triggerExecution"))) / 1000)
    if (s.size >= 6) {
      val third = s.size / 3
      val first = s.take(third).sum / third
      val last = s.takeRight(third).sum / third
      if (last - first > allow)
        o.fail(1, f"$name window: backlog grew from $first%.0f to $last%.0f")
    }
    val late = gen.lateMaxMs(w)
    if (late > 1000)
      o.fail(1, s"$name window: generator ran $late ms late")
  }

  /** Rows of a Derby table as column-name → string maps. */
  private def derbyRows(url: String, table: String): Seq[Map[String, String]] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnName(i).toLowerCase)
      val out = Seq.newBuilder[Map[String, String]]
      while (rs.next())
        out += cols.zipWithIndex.map { case (n, i) =>
          n -> String.valueOf(rs.getString(i + 1)) }.toMap
      out.result()
    } finally c.close()
  }

  /** Planted fault for the benchmark's own tests: remove the one sink row
    * `where` selects.
    */
  private def dropOneRow(url: String, table: String, where: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try require(c.createStatement()
      .executeUpdate(s"DELETE FROM $table WHERE $where") == 1, where)
    finally c.close()
  }

  /** Compares sink rows with expected rows by key: each expected key must
    * appear exactly once with equal columns; unexpected keys fail too.
    */
  private def compareByKey(o: Outcome, what: String,
      expected: Map[String, Map[String, String]],
      got: Seq[Map[String, String]], key: Map[String, String] => String): Unit = {
    val byKey = got.groupBy(key)
    var bad = 0L
    val examples = collection.mutable.ArrayBuffer[String]()
    expected.foreach { case (k, want) =>
      val rows = byKey.getOrElse(k, Nil)
      val ok = rows.size == 1 && want.forall { case (c, v) => rows.head.get(c).contains(v) }
      if (!ok) {
        bad += 1
        if (examples.size < 3) examples += s"$k: want $want got $rows"
      }
    }
    val extra = byKey.keySet.diff(expected.keySet).size
    o.attempted += expected.size
    o.fail(bad + extra, s"$what rows wrong or missing ($extra unexpected) " +
      examples.mkString("; "))
  }

  // ---------------------------------------------------------------- absa

  def absa(a: Args): Outcome = {
    val o = new Outcome
    val spark = Bench.session(a, a.cpus)
    import spark.implicits._
    val (topic, table, rate) = ("reviews", "absa_reviews", 50.0)
    val url = "jdbc:derby:memory:absa;create=true"
    EmbeddedLog.createTopic(topic, 4)
    val artifact = Paths.get(a.work, "absa-model.bin")
    Files.write(artifact, Array[Byte](1))
    Files.setLastModifiedTime(artifact, FileTime.fromMillis(1760000000000L))
    val provider = new ScorerProvider(artifact)
    val progress = new Progress(topic)
    spark.streams.addListener(progress)
    val fallbacks = new AtomicLong
    val q = AbsaPipeline.sink(AbsaPipeline.parse(source(spark, topic, Some(50))),
      provider,
      (df, _) => Spans("sink.write")(AbsaPipeline.jdbcAppend(df, url, table)),
      (_, _, e) => { fallbacks.incrementAndGet(); o.extra("fallback") = e.toString },
      s"${a.work}/ckpt", Trigger.ProcessingTime(0)).start()
    val reviews = new Inputs.Reviews(a.seed)
    def send(k: Long, due: Long) =
      EmbeddedLog.sendString(topic, reviews.id(k), reviews.json(k), due)
    // one primer event makes the first batch; the open loop starts once it
    // has committed, so start-up does not leave a backlog behind
    send(0, System.currentTimeMillis())
    o.e2e("setup_s") = (firstCommit(progress, q) - Bench.jvmStartMs) / 1000.0
    val gen = new OpenLoop(rate, 200000, 1, send)
    val backlog = new Backlog(topic, progress)
    gen.start(); backlog.start()
    val w = new Windows(a, spark)
    w.run(gen.t0Ms + (a.warmup * 1000).toLong)
    gen.halt()
    q.processAllAvailable()
    q.stop(); backlog.halt(); w.close()

    report(o, topic, progress, w)
    guard(o, "timed", w.timed, backlog, gen, rate, progress)
    w.traced.foreach { tw =>
      guard(o, "traced", tw, backlog, gen, rate, progress)
      engineLayers(o, topic, progress, w, backlog, Some(gen))
      o.layer("sink.write_ms_p50") = Stats.median(Spans.durationsMs("sink.write"))
      // parse + score over a captured batch of the median size
      val size = math.max(1, o.layer("engine.rows_per_batch_p50").toInt)
      val batch = (0L until size).map(reviews.json).toDF("value").cache()
      batch.count()
      def once(): Unit = AbsaPipeline.score(AbsaPipeline.parse(batch),
        provider.activeVersion).write.format("noop").mode("overwrite").save()
      (0 until 5).foreach(_ => once())
      val reps = 40
      val t0 = System.nanoTime()
      Spans.recording((0 until reps).foreach(_ => Spans("absa.score")(once())))
      o.layer("absa.score_ns_per_row") = (System.nanoTime() - t0).toDouble / (reps * size)
      // the dashboards that read the pipelines' output
      Dashboard.queryPass(a, spark, o)
    }

    // every produced id lands once, scored as an offline re-score says
    if (a.fault == "drop_sink_row")
      dropOneRow(url, table, s"CAST(\"id\" AS VARCHAR(32)) = '${reviews.id(7)}'")
    val sent = gen.sent
    val offline = AbsaPipeline.score(AbsaPipeline.parse(
      (0L until sent).map(reviews.json).toDF("value")), provider.activeVersion)
    val cols = offline.columns.map(_.toLowerCase)
    val expected = offline.collect().map { r =>
      val m = cols.zipWithIndex.map { case (c, i) => c -> String.valueOf(r.get(i)) }.toMap
      m("id") -> m
    }.toMap
    val got = derbyRows(url, table)
    compareByKey(o, "absa sink", expected, got, _.getOrElse("id", ""))
    o.fail(fallbacks.get, "absa batches fell back from the JDBC sink")
    o.layer("sink.rows_written") = got.size.toDouble
    o.layer("sink.fallbacks") = fallbacks.get.toDouble
    o
  }

  // ------------------------------------------------------------- vehicle

  def vehicle(a: Args): Outcome = {
    val o = new Outcome
    val prep0 = System.currentTimeMillis()
    val frames = new Inputs.Frames(a.seed, 256, 320, 240)
    val (topic, table, cap) = ("frames", "vehicle_frames", 100)
    EmbeddedLog.createTopic(topic, 2)
    val produced = new AtomicLong
    def produce(n: Long): Unit = (0L until n).foreach { _ =>
      val k = produced.getAndIncrement()
      EmbeddedLog.sendString(topic, frames.camera(k), frames.json(k),
        System.currentTimeMillis())
    }
    // the feeder's own ceiling of three batches, drained well before the
    // timed window even on a slow host
    produce(3 * cap)
    val prepMs = System.currentTimeMillis() - prep0
    o.extra("frame_pool_bytes") = frames.pool.map(_.length.toLong).sum.toString

    val spark = Bench.session(a, a.cpus)
    import spark.implicits._
    val url = "jdbc:derby:memory:vehicle;create=true"
    val progress = new Progress(topic)
    spark.streams.addListener(progress)
    def start(s: SparkSession, ckpt: String, tbl: String): StreamingQuery =
      VehiclePipeline.transformAll(source(s, topic, Some(cap)))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (b: DataFrame, _: Long) =>
          Spans("sink.write")(AbsaPipeline.jdbcAppend(b, url, tbl))
        }.start()
    val q = start(spark, s"${a.work}/ckpt", table)
    // closed loop at the drain rate: every 5 ms the feeder sends frames at
    // the rate the last batch committed them, keeping the backlog between
    // one and three batches. The drain never starves, and a batch holds
    // frames sent across a whole batch interval rather than in one burst.
    val backlog = new Backlog(topic, progress)
    @volatile var feeding = true
    val feeder = new Thread(() => {
      var credit = 0.0
      var last = System.nanoTime()
      while (feeding) {
        val now = System.nanoTime()
        val rate = progress.last.fold(4.0 * cap)(b =>
          b.rows * 1000.0 / math.max(1.0, b.ms("triggerExecution")))
        credit += rate * (now - last) / 1e9
        last = now
        val room = 3 * cap - (EmbeddedLog.endOffsets(topic).sum - progress.committed)
        val n = math.max(room - 2 * cap, math.min(credit.toLong, room))
        if (n > 0) produce(n)
        credit = math.max(0.0, math.min(credit - n, (room - n).toDouble))
        Thread.sleep(5)
      }
    }, "perfbench-feeder")
    feeder.setDaemon(true)
    feeder.start(); backlog.start()
    // the benchmark's own input preparation is not the system's set-up
    o.e2e("setup_s") = (firstCommit(progress, q) - Bench.jvmStartMs - prepMs) / 1000.0
    val w = new Windows(a, spark)
    w.run(System.currentTimeMillis() + (a.warmup * 1000).toLong)
    feeding = false; feeder.join()
    q.processAllAvailable()
    q.stop(); backlog.halt(); w.close()

    report(o, topic, progress, w)
    w.traced.foreach { tw =>
      engineLayers(o, topic, progress, w, backlog, None)
      o.layer("sink.write_ms_p50") = Stats.median(Spans.durationsMs("sink.write"))
      val batch = (0L until cap).map(k => frames.json(k).getBytes("UTF-8"))
        .toDF("value").cache()
      batch.count()
      def once(): Unit = VehiclePipeline.transformAll(batch)
        .write.format("noop").mode("overwrite").save()
      (0 until 5).foreach(_ => once())
      val reps = 30
      val t0 = System.nanoTime()
      Spans.recording((0 until reps).foreach(_ => Spans("vehicle.transform")(once())))
      o.layer("vehicle.transform_ns_per_frame") =
        (System.nanoTime() - t0).toDouble / (reps * cap)
    }

    // every produced frame lands once, with detect's count and types
    if (a.fault == "drop_sink_row")
      dropOneRow(url, table, "CAST(\"camera_id\" AS VARCHAR(16)) = 'CAM_0' AND " +
        s"\"frame_time\" = TIMESTAMP('${new java.sql.Timestamp(frames.second(0) * 1000)}')")
    val expected = (0L until produced.get).grouped(2000).flatMap { chunk =>
      VehiclePipeline.transformAll(chunk.map(k => frames.json(k)).toDF("value"))
        .select(col("camera_id"), col("frame_time").cast(LongType).as("sec"),
          col("count").cast(StringType), col("vehicle_type"))
        .collect().map(r => s"${r.getString(0)}@${r.getLong(1)}" ->
          Map("count" -> r.getString(2), "vehicle_type" -> r.getString(3)))
    }.toMap
    val got = derbyRows(url, table).map(m => m +
      ("sec" -> (java.sql.Timestamp.valueOf(m("frame_time")).getTime / 1000).toString))
    compareByKey(o, "vehicle sink", expected, got,
      m => s"${m("camera_id")}@${m("sec")}")
    o.layer("sink.rows_written") = got.size.toDouble
    o.layer("sink.fallbacks") = 0.0

    if (a.trace) {
      spark.streams.removeListener(progress)
      curationPass(a, spark, o, docs = 400, cap = 100)
      // single-core baseline: the same drain on local[1], read from the
      // start of the same log
      spark.stop()
      val s1 = Bench.session(a, 1)
      val p1 = new Progress(topic)
      s1.streams.addListener(p1)
      val q1 = start(s1, s"${a.work}/ckpt-local1", table + "_local1")
      firstCommit(p1, q1)
      Thread.sleep(2000)
      val t0 = System.currentTimeMillis()
      val win = Window(t0, t0 + (math.min(a.seconds, 5.0) * 1000).toLong)
      sleepUntil(win.endMs)
      q1.stop()
      Bus.drain(s1.sparkContext)
      o.layer("engine.sustained_rate_local1") = committedRate(p1, win)
    }
    o
  }

  // ------------------------------------------------------------ curation

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** The curation loop: `CurationIngest.step` in `foreachBatch` over a
    * topic of seeded docs, with the loop's output checks and its layer
    * metrics. `curation_live` feeds it in an open loop; a traced
    * `vehicle_drain` run drains a fixed backlog through it.
    */
  private final class Curation(a: Args, spark: SparkSession, cap: Option[Int]) {
    val topic = "docs"
    EmbeddedLog.createTopic(topic, 4)
    private val (index, kept) = (s"${a.work}/index", s"${a.work}/kept")
    val progress = new Progress(topic)
    spark.streams.addListener(progress)
    val gen = new Inputs.Docs(a.seed)

    def send(i: Long, due: Long): Unit =
      EmbeddedLog.sendString(topic, i.toString, gen.json(i), due)

    val query: StreamingQuery = source(spark, topic, cap)
      .select(from_json(col("value").cast(StringType), docSchema).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
      .writeStream.option("checkpointLocation", s"${a.work}/ckpt-docs")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: DataFrame, _: Long) =>
        Spans("curation.step")(CurationIngest.step(b, "bench_cur", index, kept))
      }.start()

    /** Curation-layer metrics over the batches that ended in `w`. */
    def layers(o: Outcome, listener: EngineListener, w: Window): Unit = {
      val n = math.max(progress.in(w).size, 1).toDouble
      val jobs = listener.jobsIn(w)
      val storage = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      o.layer ++= Seq(
        "curation.step_ms_p50" -> Stats.median(Spans.durationsMs("curation.step")),
        "curation.jobs_per_batch" -> jobs.size / n,
        "curation.checkpoints_per_batch" ->
          jobs.count(_.callSite.toLowerCase.contains("checkpoint")) / n,
        "curation.bytes_written_per_batch" ->
          listener.tasksIn(w).map(_.outputBytes).sum / n,
        "curation.storage_mb_end" -> storage / 1048576.0)
    }

    /** kept = all ids − gated − planted near-dups, and no PII survives;
      * traced runs also report the gate and dedup counts.
      */
    def check(o: Outcome, sent: Long): Unit = {
      import spark.implicits._
      val keptRows = spark.read.parquet(kept).select("doc_id", "text")
        .as[(Long, String)].collect().toSeq
      val checked =
        if (a.fault == "drop_sink_row") keptRows.filterNot(_._1 == keptRows.map(_._1).min)
        else keptRows
      val expected = (0L until sent).filterNot(i => gen.gated(i) || gen.nearDup(i)).toSet
      val ids = checked.map(_._1)
      o.attempted += sent
      o.fail(expected.diff(ids.toSet).size + ids.toSet.diff(expected).size,
        "curation kept set differs from all − gated − near-dups")
      o.fail(ids.size - ids.distinct.size, "curation kept a doc twice")
      val pii = Seq("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "https?://", "\\+[0-9]{7,}").map(_.r)
      o.fail(checked.count { case (_, t) => pii.exists(_.findFirstIn(t).nonEmpty) },
        "curation kept text still carries PII")
      if (a.trace) {
        val all = (0L until sent).map(i => (i, gen.text(i))).toDF("doc_id", "text")
        val passed = CurationIngest.prepare(all).count()
        o.layer ++= Seq(
          "curation.gated" -> (sent - passed).toDouble,
          "curation.dups_dropped" -> (passed - keptRows.size).toDouble,
          "curation.kept" -> keptRows.size.toDouble)
      }
    }
  }

  /** A traced run's pass over the curation layer: `docs` seeded docs, all
    * queued at once, drained `cap` per batch with a listener attached.
    */
  private def curationPass(a: Args, spark: SparkSession, o: Outcome,
      docs: Long, cap: Int): Unit = {
    val c = new Curation(a, spark, Some(cap))
    val now = System.currentTimeMillis()
    (0L until docs).foreach(i => c.send(i, now))
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val w = Spans.recording {
      c.query.processAllAvailable()
      Window(now, System.currentTimeMillis())
    }
    c.query.stop()
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    c.layers(o, listener, w)
    c.check(o, docs)
  }

  def curation(a: Args): Outcome = {
    val o = new Outcome
    val spark = Bench.session(a, a.cpus)
    val rate = 20.0
    val c = new Curation(a, spark, None)
    c.send(0, System.currentTimeMillis())
    o.e2e("setup_s") = (firstCommit(c.progress, c.query) - Bench.jvmStartMs) / 1000.0
    val loop = new OpenLoop(rate, 100000, 1, c.send)
    val backlog = new Backlog(c.topic, c.progress)
    loop.start(); backlog.start()
    val w = new Windows(a, spark)
    w.run(loop.t0Ms + (a.warmup * 1000).toLong)
    loop.halt()
    c.query.processAllAvailable()
    c.query.stop(); backlog.halt(); w.close()

    report(o, c.topic, c.progress, w)
    guard(o, "timed", w.timed, backlog, loop, rate, c.progress)
    w.traced.foreach { tw =>
      guard(o, "traced", tw, backlog, loop, rate, c.progress)
      engineLayers(o, c.topic, c.progress, w, backlog, Some(loop))
      c.layers(o, w.listener, tw)
    }
    c.check(o, loop.sent)
    o
  }
}
