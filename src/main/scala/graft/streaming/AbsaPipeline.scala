package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{classic, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.Row

import graft.functions.MockScorers

/** ABSA streaming pipeline (SURVEY.md §3.2 — the distributed-UDF variant is
  * the blueprint; the driver-collect variant's anti-pattern is deliberately
  * NOT reproduced, §4.2).
  *
  * Stages: Kafka-shaped source → cast value to string (S10) → from_json +
  * flatten (S11) → normalize (S15) → executor-side scoring (S20/S22
  * semantics via the frozen mock, pure Column arithmetic — stays in
  * whole-stage codegen) → model_version stamp (S24) → foreachBatch sink
  * with JDBC-style append + graceful console fallback (S5/S6/S31).
  */
object AbsaPipeline {

  /** Kafka JSON value schema (`spark_kafka_consumer_dag.py:49-52`). */
  val reviewSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("review", StringType)))

  /** Kafka source wiring (S1/S28). Requires the spark-sql-kafka connector
    * on the cluster classpath; in tests MemoryStream replaces it.
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Long = 50L): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .load()

  /** S10+S11: binary kafka value → parsed review columns. Works on any
    * DataFrame bearing a `value` column (kafka, memory stream, files).
    */
  def parse(raw: DataFrame): DataFrame =
    raw
      .selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), reviewSchema).as("d"))
      .select(col("d.id").as("id"), col("d.review").as("review"))

  /** Typed boundary (SURVEY §1.3): the parsed stream as Dataset[Review] —
    * compile-time field checks at the pipeline edge; operators stay
    * Column-based inside so Catalyst optimizations are unaffected.
    */
  def parseTyped(raw: DataFrame): Dataset[Model.Review] = {
    val spark = raw.sparkSession
    import spark.implicits._
    parse(raw).as[Model.Review]
  }

  /** S15+S16+S20/S22+S24: normalize, score all 8 aspects, stamp version.
    * Null reviews are scored as empty text (reference fillna("")). Two
    * projections: the normalized text, then every aspect column in one
    * `select`. Each `withColumn` re-analyses the whole plan, and the
    * sink scores every micro-batch afresh.
    */
  def score(parsed: DataFrame, modelVersion: String): DataFrame = {
    val kept = parsed.columns.toSeq.filterNot(_ == "review").map(col)
    val text = coalesce(col("review"), lit(""))
    val withNorm = parsed.select(kept ++ Seq(text.as("review_text"),
      // faithful Vietnamese-aware normalization (S15)
      MockScorers.normalizeVi(text).as("norm")): _*)
    val preds = MockScorers.aspects.zipWithIndex.map { case (a, i) =>
      MockScorers.aspectPred(col("norm"), i).as(s"${a}_pred")
    }
    withNorm.select((kept :+ col("review_text")) ++ preds :+
      lit(modelVersion).as("model_version"): _*)
  }

  /** Sink stage (S5/S6/S31): per micro-batch, re-score with the provider's
    * current version (hot reload checked once per batch) and append to the
    * primary sink; on a non-fatal failure, degrade to a console/log dump
    * instead of failing the query. A fatal error (out of memory, a missing
    * class, an interrupt) is not a sink outage: it ends the query.
    * `writePrimary` stands in for the JDBC append — parquet in tests,
    * [[jdbcAppend]] in production wiring.
    *
    * S26: an empty micro-batch is a zero-row append, so it adds no rows
    * (a first-ever empty batch creates the JDBC table with the scored
    * schema). The reference counts before writing; here that count would
    * be a second Spark job over the source on every batch.
    */
  def sink(parsed: DataFrame, provider: ScorerProvider,
      writePrimary: (DataFrame, Long) => Unit,
      onFallback: (DataFrame, Long, Throwable) => Unit,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    parsed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = score(batch, provider.reloadIfUpdated())
        try writePrimary(scored, batchId)
        catch {
          case NonFatal(e) => onFallback(scored, batchId, e)
        }
      }

  /** Idempotent upsert append (SURVEY §7.4): the faithful default is
    * at-least-once (JDBC append + offset commit can replay a batch after
    * a crash, duplicating rows — the reference accepts this). This mode
    * upgrades to effective exactly-once for keyed rows by anti-joining
    * the batch against the keys already in the sink before appending.
    *
    * The existing-keys read is bounded: key column only (pruned scan; in
    * a JDBC sink this is `SELECT key FROM target WHERE key IN (...)`).
    */
  def idempotentAppend(batch: DataFrame, sinkDir: String,
      keyCol: String): Unit = {
    val spark = batch.sparkSession
    // Only a genuinely-absent sink means "first batch". A transient read
    // failure (corrupt footer, FS hiccup) must propagate — swallowing it
    // and appending the whole batch would silently reintroduce
    // duplicates, defeating the effective-exactly-once guarantee.
    val sinkPath = new org.apache.hadoop.fs.Path(sinkDir)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "Sink exists" must mean "holds committed data": a crashed first
    // write can leave the directory with only _temporary/_SUCCESS debris,
    // and read.parquet on that throws schema-inference errors on EVERY
    // retry — wedging the pipeline permanently. So probe for actual data
    // files (ignoring hidden/_-prefixed paths) and treat a dataless
    // directory as first-batch.
    val fresh =
      if (fs.exists(sinkPath) && hasCommittedData(fs, sinkPath)) {
        val existing = spark.read.parquet(sinkDir).select(col(keyCol))
        batch.join(existing, Seq(keyCol), "left_anti")
      } else batch // first batch: sink absent or holds no committed data
    fresh.write.mode("append").parquet(sinkDir)
  }

  /** True iff `root` contains at least one visible data file (no path
    * component hidden by `_`/`.` — Spark's own convention for
    * non-data files such as _temporary and _SUCCESS).
    */
  private[graft] def hasCommittedData(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean = {
    // qualify the root the same way listFiles qualifies its results: a
    // raw-string comparison would never match a relative/differently-
    // spelled sinkDir, walk past the root, and misclassify files under
    // any _- or .-prefixed ANCESTOR directory as hidden
    val qualifiedRoot = fs.makeQualified(root)
    def hidden(p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p
      var h = false
      while (cur != null && cur != qualifiedRoot) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) h = true
        cur = cur.getParent
      }
      h
    }
    val it = fs.listFiles(root, true)
    var found = false
    while (!found && it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getLen > 0 && !hidden(f.getPath)) found = true
    }
    found
  }

  /** Kafka producer sink serialization (S8): rows → JSON values. The
    * write itself needs the spark-sql-kafka connector
    * (`.writeStream.format("kafka")`); the serialization contract is
    * engine-side and tested.
    */
  def toKafkaValue(df: DataFrame): DataFrame =
    df.selectExpr("to_json(struct(*)) AS value")

  /** Production-shaped JDBC append (S5), credentialed form (Postgres in
    * the reference's wiring). Both forms run one writer that plans the
    * append once per call: one connection for the table probes, the
    * query's own executed plan, one Spark job (see [[writeJdbc]]).
    */
  def jdbcAppend(df: DataFrame, url: String, table: String,
      user: String, password: String): Unit =
    writeJdbc(df, Map("url" -> url, "dbtable" -> table,
      "user" -> user, "password" -> password))

  /** Credential-less JDBC append for integrated-auth / embedded
    * databases — the form JdbcSinkSpec exercises END-TO-END against
    * embedded Derby (shipped in Spark's own classpath), so S5 is a
    * real JDBC round trip, not a parquet stand-in.
    */
  def jdbcAppend(df: DataFrame, url: String, table: String): Unit =
    writeJdbc(df, Map("url" -> url, "dbtable" -> table))

  /** The append both [[jdbcAppend]] forms run, built on Spark's own
    * `JdbcUtils`: it keeps the dialect's type mapping, `batchsize`
    * batching, one transaction per partition and at-least-once
    * semantics of `DataFrameWriter.jdbc` append. A missing table is
    * created with the DataFrame's schema, so an empty first batch still
    * creates it (S26).
    *
    * It does each piece of per-call work once, which matters because the
    * sink runs on every micro-batch. The existence and schema probes
    * share one driver connection. The rows come straight from the
    * query's own executed plan (`toRdd`), so `Dataset.rdd` never plans a
    * second deserializing query; the Row deserializer is bound once on
    * the driver, with a fresh instance per partition. `DataFrameWriter`
    * also resolves the table's schema a third time after the write, for
    * a relation an append never reads. The write is one Spark job under
    * its own SQL execution id.
    */
  private def writeJdbc(df: DataFrame, params: Map[String, String]): Unit = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    val options = new JdbcOptionsInWrite(params)
    val dialect = JdbcDialects.get(options.url)
    val caseSensitive = qe.sparkSession.sessionState.conf.caseSensitiveAnalysis
    val schema = df.schema
    val conn = dialect.createConnectionFactory(options)(-1)
    val tableSchema =
      try {
        if (JdbcUtils.tableExists(conn, options))
          JdbcUtils.getSchemaOption(conn, options)
        else {
          JdbcUtils.createTable(conn, options.table, schema, caseSensitive,
            options)
          Some(schema)
        }
      } finally conn.close()
    val insert = JdbcUtils.getInsertStatement(options.table, schema,
      tableSchema, caseSensitive, dialect)
    val encoder = ExpressionEncoder(schema).resolveAndBind()
    SQLExecution.withNewExecutionId(qe, Some("jdbcAppend")) {
      qe.toRdd.foreachPartition { rows =>
        val toRow = encoder.createDeserializer()
        JdbcUtils.savePartition(options.table, rows.map(toRow), schema,
          insert, options.batchSize, dialect, options.isolationLevel, options)
      }
    }
  }

  /** Effective exactly-once keyed append into a JDBC sink (S5 +
    * [[idempotentAppend]]'s contract over JDBC): anti-join the batch
    * against the key column already in the target — the JDBC source
    * prunes to `SELECT keyCol FROM table` — then append only fresh
    * rows, so an at-least-once foreachBatch replay cannot duplicate.
    *
    * "First batch" is decided by a JDBC METADATA probe (does the table
    * exist?), never by swallowing a read exception — a transient
    * connection failure must propagate, exactly like the parquet
    * variant's committed-data probe; silently appending on error would
    * reintroduce the duplicates this mode exists to prevent.
    */
  def idempotentJdbcAppend(batch: DataFrame, url: String, table: String,
      keyCol: String): Unit = {
    val spark = batch.sparkSession
    val conn = java.sql.DriverManager.getConnection(url)
    val tableExists =
      try {
        // unquoted identifiers are case-folded by the engine (Derby/
        // Postgres fold differently) — probe both foldings
        val md = conn.getMetaData
        Seq(table.toUpperCase, table.toLowerCase, table).distinct.exists {
          t =>
            val rs = md.getTables(null, null, t, null)
            try rs.next() finally rs.close()
        }
      } finally conn.close()
    val fresh =
      if (tableExists) {
        val existing = spark.read.format("jdbc")
          .option("url", url).option("dbtable", table).load()
          .select(col(keyCol))
        batch.join(existing, Seq(keyCol), "left_anti")
      } else batch
    jdbcAppend(fresh, url, table)
  }
}
