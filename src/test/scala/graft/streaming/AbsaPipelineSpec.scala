package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.functions.MockScorers

class AbsaPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def reviewJson(id: Int, text: String): String =
    s"""{"id": "$id", "review": "$text"}"""

  test("parse + score: end-to-end over a memory stream, matches batch scorer") {
    val input = MemoryStream[String](spark)
    val out = tmpDir("absa-out")
    val ckpt = tmpDir("absa-ckpt")
    val artifact = java.nio.file.Paths.get(tmpDir("absa-model"), "model.bin")
    java.nio.file.Files.writeString(artifact, "weights-v1")
    val provider = new ScorerProvider(artifact)

    val parsed = AbsaPipeline.parse(input.toDF())
    // data before start: AvailableNow snapshots offsets at query start
    input.addData(
      reviewJson(1, "Giay dep lam nha ship than thien!"),
      reviewJson(2, "hang te, chat luong kem..."),
      reviewJson(3, ""))
    val q = AbsaPipeline
      .sink(parsed, provider,
        writePrimary = (df, _) => df.write.mode("append").parquet(out),
        onFallback = (_, _, _) => fail("fallback must not trigger"),
        checkpointDir = ckpt,
        trigger = Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val got = spark.read.parquet(out)
    assert(got.count() === 3)
    assert(got.columns.contains("model_version"))
    assert(got.select("model_version").distinct().as[String].collect()
      .forall(_ != "unloaded"))

    // streaming result must equal the batch scorer applied to the same text
    val expected = AbsaPipeline.score(
      Seq((1, "Giay dep lam nha ship than thien!"), (2, "hang te, chat luong kem..."), (3, ""))
        .toDF("id", "review")
        .select(col("id").cast("string").as("id"), col("review")),
      provider.activeVersion)
    val gotSorted = got.orderBy("id")
      .select("id", MockScorers.aspects.map(_ + "_pred"): _*)
      .collect().toSeq
    val expSorted = expected.orderBy("id")
      .select("id", MockScorers.aspects.map(_ + "_pred"): _*)
      .collect().toSeq
    assert(gotSorted === expSorted)
  }

  test("typed boundary: parseTyped yields Dataset[Review] with same rows") {
    val raw = Seq(reviewJson(5, "typed path"), """broken json""")
      .toDF("value")
    val typed: Seq[Model.Review] =
      AbsaPipeline.parseTyped(raw).collect().toSeq
    assert(typed.contains(Model.Review("5", "typed path")))
    assert(typed.size === 2) // malformed row parses to null fields, typed
    assert(typed.exists(r => r.id == null && r.review == null))
  }

  test("graceful degradation: primary sink failure falls back, query survives") {
    val input = MemoryStream[String](spark)
    val ckpt = tmpDir("absa-fb-ckpt")
    val artifact = java.nio.file.Paths.get(tmpDir("absa-fb-model"), "model.bin")
    java.nio.file.Files.writeString(artifact, "weights")
    val fallbacks = new AtomicInteger(0)

    input.addData(reviewJson(10, "ok"))
    val q = AbsaPipeline
      .sink(AbsaPipeline.parse(input.toDF()), new ScorerProvider(artifact),
        writePrimary = (_, _) => throw new RuntimeException("jdbc down"),
        onFallback = (df, _, e) => {
          assert(e.getMessage == "jdbc down")
          assert(df.count() > 0)
          fallbacks.incrementAndGet()
        },
        checkpointDir = ckpt,
        trigger = Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(fallbacks.get() === 1)
  }

  test("fatal error in the primary sink ends the query, no fallback") {
    val input = MemoryStream[String](spark)
    val artifact = java.nio.file.Paths.get(tmpDir("absa-fatal-model"), "model.bin")
    java.nio.file.Files.writeString(artifact, "weights")
    val fallbacks = new AtomicInteger(0)
    input.addData(reviewJson(11, "ok"))
    val q = AbsaPipeline
      .sink(AbsaPipeline.parse(input.toDF()), new ScorerProvider(artifact),
        writePrimary = (_, _) => throw new NoClassDefFoundError("jdbc/Driver"),
        onFallback = (_, _, _) => fallbacks.incrementAndGet(),
        checkpointDir = tmpDir("absa-fatal-ckpt"),
        trigger = Trigger.AvailableNow())
      .start()
    val e = intercept[StreamingQueryException](q.awaitTermination(60000))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[NoClassDefFoundError]), e.toString)
    assert(fallbacks.get() === 0)
  }

  /** Runs `batches` through [[AbsaPipeline.sink]], one micro-batch each,
    * and returns the row count of every primary write plus the fallbacks.
    */
  private def sinkBatches(name: String, batches: Seq[Seq[String]])
      : (Seq[Long], Int) = {
    val input = MemoryStream[String](spark)
    val artifact = java.nio.file.Paths.get(tmpDir(s"$name-model"), "model.bin")
    java.nio.file.Files.writeString(artifact, "weights")
    val out = tmpDir(s"$name-out")
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val fallbacks = new AtomicInteger(0)
    val q = AbsaPipeline
      .sink(AbsaPipeline.parse(input.toDF()), new ScorerProvider(artifact),
        writePrimary = (df, _) => {
          df.write.mode("append").parquet(out)
          written.add(spark.read.parquet(out).count())
        },
        onFallback = (_, _, _) => fallbacks.incrementAndGet(),
        checkpointDir = tmpDir(s"$name-ckpt"),
        trigger = Trigger.ProcessingTime(0))
      .queryName(name)
      .start()
    try batches.foreach { b =>
      input.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val totals = written.asScala.toSeq
    (totals.zip(0L +: totals).map { case (t, prev) => t - prev },
      fallbacks.get())
  }

  test("S26: an empty micro-batch is a zero-row append, no fallback") {
    val (perBatch, fallbacks) = sinkBatches("absa_empty", Seq(
      Seq(reviewJson(20, "mot"), reviewJson(21, "hai")),
      Seq(),
      Seq(reviewJson(22, "ba"))))
    assert(perBatch === Seq(2L, 0L, 1L))
    assert(fallbacks === 0)
  }

  test("QueryMonitor.totalRows equals the rows sent through the sink") {
    val monitor = new QueryMonitor().attach(spark)
    try {
      val batches = (0 until 5).map(b =>
        (0 until 3 + b).map(i => reviewJson(100 * b + i, s"review $b $i")))
      val (perBatch, fallbacks) = sinkBatches("absa_rows", batches)
      assert(perBatch === batches.map(_.size.toLong))
      assert(fallbacks === 0)
      // listener events are async: wait for the last batch's progress
      val deadline = System.currentTimeMillis() + 10000
      def seen = monitor.batches.filter(_.queryName == "absa_rows")
      while (System.currentTimeMillis() < deadline &&
          !seen.exists(_.batchId == batches.size - 1))
        Thread.sleep(50)
      assert(batches.indices.forall(id => seen.exists(_.batchId == id)))
      assert(monitor.totalRows === batches.map(_.size).sum.toLong)
    } finally monitor.detach(spark)
  }

  test("hot reload: artifact touch swaps model_version between batches (S24)") {
    val artifact = java.nio.file.Paths.get(tmpDir("absa-hr"), "model.bin")
    java.nio.file.Files.writeString(artifact, "v1")
    val provider = new ScorerProvider(artifact)
    val v1 = provider.reloadIfUpdated()
    assert(v1 != "unloaded")
    // bump mtime forward past timestamp resolution
    java.nio.file.Files.setLastModifiedTime(artifact,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    val v2 = provider.reloadIfUpdated()
    assert(v2 != v1)
  }

  test("model registry: candidate promoted only when strictly better") {
    import ModelRegistry._
    assert(promote(EvalResult("t", 0.856, 0.86, 0.83)) === (true, 0.856))
    assert(promote(EvalResult("t", 0.80, 0.86, 0.83)) === (false, 0.83))
    assert(promote(EvalResult("t", 0.83, 0.86, 0.83)) === (false, 0.83))
    val p = java.nio.file.Paths.get(tmpDir("absa-mr"), "eval_result.json")
    write(p, EvalResult("2025-10-31T16:00:00", 0.856, 0.86, 0.83))
    assert(read(p) === EvalResult("2025-10-31T16:00:00", 0.856, 0.86, 0.83))
  }
}
