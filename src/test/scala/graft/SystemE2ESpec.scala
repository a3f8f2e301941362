package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.CsvCorpusSource
import graft.streaming._

/** The reference system's whole lifecycle (SURVEY §3.1) in one test:
  * labeled CSV corpus (S2) → rate-limited replay producer (S3) → Kafka
  * value serialization (S8) → parse (S10/S11) → normalize + score
  * (S15/S20-S22) → versioned sink, where an empty micro-batch is a
  * zero-row append (S5/S6/S24/S26), under the supervisor (S30) →
  * dashboard aspect-sentiment histogram (D2) over the sink. Every stage
  * is the engine's own operator — the only stand-ins are MemoryStream-
  * free: the replay source drives a real rate stream.
  */
class SystemE2ESpec extends SparkSpec {

  test("corpus → replay → serialize → parse → score → sink → dashboard") {
    // 1. corpus on disk, read through the declared-schema CSV source
    val csvDir = tmpDir("e2e-corpus")
    Files.writeString(Paths.get(csvDir, "corpus.csv"),
      "Review,Price,Shipping,Outlook,Quality,Size,Shop_Service,General,Others\n" +
        (0 until 20).map(i =>
          s"hang dep lam so $i,1,0,-1,2,1,0,1,-1").mkString("\n"))
    // cache before filtering on the corrupt column (Spark disallows
    // corrupt-record-only queries straight off the raw file)
    val corpus = CsvCorpusSource.read(spark, csvDir).cache()
      .filter(col("_corrupt").isNull)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("Review"))))
      .select(col("id").cast("string"), col("Review").as("review"))

    // 2. replay at a high rate; 3. serialize rows as Kafka-shaped values
    val stream = ReplaySource.fromRate(spark, corpus, "id",
      rowsPerSecond = 200)
    val kafkaShaped = AbsaPipeline.toKafkaValue(
      stream.select(col("id"), col("review")))

    // 4-6. parse → score → sink, supervised, on a real checkpoint
    val artifact = Paths.get(tmpDir("e2e-model"), "model.bin")
    Files.writeString(artifact, "weights")
    val provider = new ScorerProvider(artifact)
    val out = tmpDir("e2e-sink")
    val ckpt = tmpDir("e2e-ckpt")
    @volatile var sunk = 0L
    def start() = AbsaPipeline
      .sink(AbsaPipeline.parse(kafkaShaped), provider,
        writePrimary = (df, _) => {
          df.write.mode("append").parquet(out)
          sunk += df.count()
        },
        onFallback = (_, _, e) => throw e,
        checkpointDir = ckpt,
        trigger = Trigger.ProcessingTime("200 milliseconds"))
      .start()
    val q = start()
    val deadline = System.currentTimeMillis() + 60000
    while (sunk < 20 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    q.stop()
    assert(sunk >= 20, s"replay must push the corpus through, sunk=$sunk")

    // 7. dashboard tier: aspect-sentiment histogram over the sink (D2)
    val sink = spark.read.parquet(out)
    assert(sink.columns.contains("model_version"))
    val histogram = graft.functions.MockScorers.aspects.map { a =>
      sink.groupBy(col(s"${a}_pred")).count()
        .withColumn("aspect", lit(a))
    }.reduce(_ union _)
    val rows = histogram.collect()
    assert(rows.nonEmpty)
    // scorer output domain: classes 0..3 only
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 3))
    // replay cycles the corpus: every sunk row must be one of the 20
    // distinct reviews, each scored identically on every replay
    assert(sink.select("review_text").distinct().count() === 20)
  }

  test("curation batches → gate → dedup-against-table → versioned " +
      "commits (X110): read-back equals the one-shot pipeline and a " +
      "pinned reader is isolated from later compaction") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = tmpDir("e2e-vt")

    def text(i: Int): String =
      if (i % 7 == 0) "junk" // gated out (too short)
      else s"useful document number ${i % 50} carrying content words"
    def batch(ids: Range) =
      ids.map(i => (i.toLong, text(i))).toDF("doc_id", "text")

    // per-batch pipeline: length gate → exact dedup against the TABLE
    // (left-anti on digest — the X46 probe shape against X110 state)
    def ingest(b: org.apache.spark.sql.DataFrame): Unit = {
      val gated = b.filter(length(col("text")) >= 20)
        .withColumn("digest", sha2(col("text"), 256))
        .dropDuplicates("digest")
      val cur = VersionedTable.latestVersion(spark, root)
      val fresh =
        if (cur == 0) gated
        else gated.join(
          VersionedTable.read(spark, root).select(col("digest")),
          Seq("digest"), "left_anti")
      if (cur == 0) VersionedTable.overwrite(fresh, root)
      else VersionedTable.append(fresh, root)
    }

    ingest(batch(0 until 40))
    val pinned = VersionedTable.latestVersion(spark, root)
    val pinnedDigests = VersionedTable.read(spark, root, pinned)
      .select(col("digest")).as[String].collect().sorted.toSeq
    ingest(batch(20 until 70)) // overlaps → cross-batch dups
    VersionedTable.compact(spark, root, targetFiles = 1)
    ingest(batch(60 until 90))

    // one-shot equivalent over the full arrival stream
    val expect = (0 until 90).map(text).filter(_.length >= 20).distinct
    val got = VersionedTable.read(spark, root)
      .select(col("text")).as[String].collect().toSeq
    assert(got.sorted === expect.sorted,
      "incremental versioned curation must equal the one-shot pipeline")
    assert(got.distinct.size === got.size, "no duplicate survived")
    // the pre-compaction reader still resolves ITS exact snapshot
    assert(VersionedTable.read(spark, root, pinned)
      .select(col("digest")).as[String].collect().sorted.toSeq ===
      pinnedDigests)
  }
}
