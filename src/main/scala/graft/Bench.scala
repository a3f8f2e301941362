package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
  QueryExecution, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Batch-tier benchmark: each selected query materialized in full, timed
  * as min-of-`SPARK_GRAFT_REPEAT` (default 3) and fingerprinted, then the
  * quality probes and the decode and curation rates once. Prints one JSON
  * line and writes it to `SPARK_GRAFT_BENCH_OUT` (default
  * `BENCH_FULL.json` in the working directory, the project root under
  * `sbt runMain`). Also reads `SPARK_GRAFT_SF_DIR`, `_CPUS`, `_ONLY`
  * ([[SparkEntry.select]]), `_EXTRA_CONF` (`k=v;k=v` session overrides)
  * and `_PLAN_DUMP` (a directory for each query's executed plan and
  * hashed lines).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val dumpDir = sys.env.get("SPARK_GRAFT_PLAN_DUMP").filter(_.nonEmpty)
      .map(d => Files.createDirectories(Paths.get(d)))
    val outFile = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
    // plan_changes compares against the artifact this run replaces, and
    // only when that artifact hashed with the same fingerprint version
    val baseline = if (Files.exists(outFile)) Files.readString(outFile) else ""
    val baselineHashes: Map[String, String] =
      if (!baseline.contains(s""""plan_hash_ver":$PlanHashVersion,""")) Map.empty
      else """"(q[0-9][^"]*)":"([0-9a-f]{8})"""".r
        .findAllMatchIn(baseline).map(m => m.group(1) -> m.group(2)).toMap

    val spark = GraftSession.local(cpus)
    try {
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").filter(_.nonEmpty)
        .foreach(_.split(";").filter(_.nonEmpty).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          spark.conf.set(k, v)
          System.err.println(s"[bench] conf override: $k=$v")
        })

      val hashes = mutable.Map.empty[String, String]
      val times = selected.toSeq.sortBy(_._1).map { case (name, build) =>
        name -> (try (1 to repeat).map { _ =>
          // graph queries scale spark.sql.shuffle.partitions with their
          // input (operators.GraphScale); reset it so that never leaks
          // into the next query's plan
          spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
          val t0 = System.nanoTime()
          val qe = materialize(build(spark, sfDir))
          val secs = (System.nanoTime() - t0) / 1e9
          if (!hashes.contains(name)) {
            val plan = qe.executedPlan
            hashes(name) = planFingerprint(plan)
            dumpDir.foreach(d => Files.writeString(d.resolve(s"$name.txt"),
              plan.treeString + "==== hashed lines ====\n" +
                planLines(plan).mkString("", "\n", "\n")))
          }
          secs
        }.min
        catch { case NonFatal(e) =>
          // a failed query must not bench as fast: -1, listed in `failed`
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        })
      }
      val failed = times.collect { case (name, t) if t < 0 => name }
      val total = times.map(_._2).filter(_ >= 0).sum

      val planChanges = hashes.toSeq.sortBy(_._1).collect {
        case (name, h) if !AdaptivePlanAllowlist(name) &&
            baselineHashes.get(name).exists(_ != h) =>
          System.err.println(s"[bench] plan_hash changed: $name " +
            s"(${baselineHashes(name)} -> $h)")
          name
      }

      def str(s: String): String = "\"" + s + "\""
      def obj(kvs: Seq[(String, String)]): String =
        kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
      def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
      val line = obj(Seq(
        "metric" -> str("total"),
        "value" -> f"$total%.3f",
        "unit" -> str("sec"),
        "stat" -> str(s"min_of_$repeat"),
        "queries" -> obj(times.map { case (k, t) => k -> f"$t%.3f" }),
        "failed" -> arr(failed),
        "plan_hash_ver" -> PlanHashVersion.toString,
        "plan_hashes" -> obj(hashes.toSeq.sortBy(_._1)
          .map { case (k, h) => k -> str(h) }),
        "plan_changes" -> arr(planChanges),
        "plan_adaptive" -> arr(AdaptivePlanAllowlist.toSeq.sorted),
        "sf" -> str(sfDir),
        "vehicle_fps_real" -> vehicleRealFps(spark).toString,
        "curation_docs_per_sec" -> curationIngestRate(spark).toString,
        "curation_docs_per_sec_packed" ->
          curationIngestRate(spark, packed = true).toString,
        "ann_recall" -> annRecall(spark, sfDir),
        "bbit" -> bbitQuality(spark, sfDir),
        "gk_histogram" -> gkHistogram(spark, sfDir)))
      println(line)
      System.err.println(s"[bench] writing artifact to ${outFile.toAbsolutePath}")
      Files.writeString(outFile, line + "\n")
    } finally spark.stop()
  }

  /** Runs `df` to completion through its own `QueryExecution`: every
    * column of every row is produced, as by a `noop` write, and nothing
    * is collected. Afterwards `executedPlan` is the final adaptive plan.
    */
  private[graft] def materialize(df: DataFrame): QueryExecution = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("bench"))(qe.toRdd.foreach(_ => ()))
    qe
  }

  /** Version of [[planFingerprint]], published as `plan_hash_ver`; hashes
    * of different versions are never compared (6: the structural walk). */
  val PlanHashVersion = 6

  /** Queries whose executed plan is bistable on identical code: AQE's
    * runtime broadcast/sort-merge choice lands on a near-threshold frame,
    * so two identical runs execute different, equally correct plans.
    * Still hashed and published, but left out of `plan_changes`. q105:
    * the df-capped MOSS fingerprint pair join sits at the adaptive
    * broadcast threshold at sf0.1.
    */
  val AdaptivePlanAllowlist: Set[String] = Set("q105_winnow_matches")

  /** The hashed description of an executed plan: one line per operator,
    * sorted and distinct. Wrappers that only say how or when an operator
    * ran are skipped: the adaptive root, query stages, exchange reuse,
    * AQE shuffle reads and whole-stage codegen. A line names the
    * operator, plus the join type of a join, the partitioning kind of an
    * exchange (never its partition count, which follows the host) and
    * whether a file scan's reader applies any pushed filter. Subquery
    * plans are walked too. Distinct lines, not a multiset: where AQE picks
    * the broadcast build side at run time, an extra identical exchange
    * can appear.
    */
  private[graft] def planLines(plan: SparkPlan): Seq[String] = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case s: QueryStageExec => unwrap(s.plan)
      case r: ReusedExchangeExec => unwrap(r.child)
      case r: AQEShuffleReadExec => unwrap(r.child)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case n => n
    }
    def line(n: SparkPlan): String = n match {
      case j: BaseJoinExec => s"${j.nodeName} ${j.joinType}"
      case e: Exchange => s"${e.nodeName} " +
        e.outputPartitioning.getClass.getSimpleName.stripSuffix("$")
      case f: FileSourceScanExec =>
        // Spark lists PushedFilters whether or not the reader applies
        // them; parquet and ORC readers apply them only when their
        // format's filterPushdown conf is on
        val applied = f.relation.fileFormat match {
          case _: ParquetFileFormat => f.conf.parquetFilterPushDown
          case _: OrcFileFormat => f.conf.orcFilterPushDown
          case _ => true
        }
        val pushed = applied && f.metadata.get("PushedFilters").exists(_ != "[]")
        s"${f.nodeName} pushed=$pushed"
      case n => n.nodeName
    }
    def walk(p: SparkPlan): Seq[String] = {
      val n = unwrap(p)
      line(n) +: (n.children ++ n.subqueries).flatMap(walk)
    }
    walk(plan).distinct.sorted
  }

  /** 8-hex MD5 of [[planLines]]: the same code on the same data gives the
    * same hash on any host; a changed join strategy, exchange kind or lost
    * pushdown changes it (`BenchSpec`, `tools/planstab.sh`).
    */
  private[graft] def planFingerprint(plan: SparkPlan): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(planLines(plan).mkString("\n").getBytes(UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  /** A quality probe's JSON object, or `{"error":true}` when it fails, so
    * the bench line stays parseable.
    */
  private def probe(name: String)(body: => String): String =
    try body catch { case NonFatal(e) =>
      System.err.println(s"[bench] $name probe failed: ${e.getMessage}")
      """{"error":true}"""
    }

  /** Approximate-tier quality: recall@5 of the sign-LSH (q52), IVF (q55),
    * PQ (q127) and IVF-PQ (q131) top-k against the exact q45 brute force,
    * plus the SemDeDup planted-pair recall (the fraction of q100's
    * cosine-1 planted twins grouped with their original; 1.0 by
    * construction, so any dip is a defect).
    */
  private def annRecall(spark: SparkSession, sfDir: String): String =
    probe("ann recall") {
      import org.apache.spark.sql.functions.col
      def topSets(df: DataFrame, idCol: Int): Map[Long, Set[Long]] =
        df.collect().map(r => (r.getLong(0), r.getLong(idCol))).groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
      val brute = topSets(operators.SimilarityQueries.q45.build(spark, sfDir), 2)
      def recallAt5(approx: Map[Long, Set[Long]]): Double =
        brute.keysIterator.map(q =>
          (approx.getOrElse(q, Set.empty[Long]) intersect brute(q)).size)
          .sum.toDouble / (brute.size * 5)
      val lsh = recallAt5(topSets(operators.SketchQueries.q52.build(spark, sfDir), 2))
      val ivf = recallAt5(topSets(operators.SketchQueries.q55.build(spark, sfDir), 2))
      // q127/q131 share the (qid, vec_id, rank, dist) shape
      val pq = recallAt5(topSets(operators.SketchQueries.q127.build(spark, sfDir), 1))
      val ivfpq = recallAt5(topSets(operators.SketchQueries.q131.build(spark, sfDir), 1))
      val groups = operators.SimilarityQueries.q100.build(spark, sfDir)
        .select(col("vec_id"), col("group_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val nBase = graft.sources.Tables(spark, sfDir, "embeddings").count()
      val twinned = groups.keysIterator.filter(_ < 1000000L).count(i =>
        groups.get(i + 1000000L).contains(groups(i)))
      val sem = twinned.toDouble / nBase
      f"""{"lsh_at5":$lsh%.4f,"ivf_at5":$ivf%.4f,"pq_at5":$pq%.4f,"ivfpq_at5":$ivfpq%.4f,"semdedup_planted":$sem%.4f}"""
    }

  /** b-bit estimator quality: MAE and signed bias of the Li–König
    * corrected Ĵ against exact Jaccard on the bench corpus's candidate
    * pairs. The collects are the bounded τ≥0.05 pair lists, not the
    * corpus.
    */
  private def bbitQuality(spark: SparkSession, sfDir: String): String =
    probe("bbit quality") {
      val docs = graft.sources.Tables(spark, sfDir, "documents")
      val exact = operators.DedupQueries
        .bruteJaccardPairs(operators.MinHashDedup.shingles(docs), 0.05)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      val est = operators.BbitMinHash.nearDuplicates(docs, -1.0).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getInt(2), r.getDouble(3)))
      val joined = est.flatMap { case (k, (lanes, je)) =>
        exact.get(k).map(j => (j, lanes / 32.0, je))
      }
      if (joined.isEmpty) """{"error":"no overlapping pairs"}"""
      else {
        val n = joined.length
        val mae = joined.map { case (j, _, je) => math.abs(je - j) }.sum / n
        val raw = joined.map { case (j, c, _) => c - j }.sum / n
        val corr = joined.map { case (j, _, je) => je - j }.sum / n
        f"""{"mae":$mae%.4f,"raw_bias":$raw%.4f,""" +
          f""""corr_bias":$corr%.4f,"pairs":$n}"""
      }
    }

  /** GK versus exact equi-depth boundary pass over the bench corpus
    * (min-of-2 each), plus the GK boundaries' maximum rank error against
    * the exact target ranks i·n/k as a fraction of n. Greenwald–Khanna
    * guarantees ≤ ε = 1/10000, so `max_rank_err` above ~2e-4 flags a
    * broken sketch path even while the exact q148 stays green.
    */
  private def gkHistogram(spark: SparkSession, sfDir: String): String =
    probe("gk histogram") {
      import org.apache.spark.sql.functions._
      val li = graft.sources.Tables(spark, sfDir, "lineitem")
        .select(col("l_extendedprice").cast("double").as("v"))
      def timed(approx: Boolean): Double =
        (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.operators.EquiDepthHistogram.histogram(li, approx).collect()
          (System.nanoTime() - t0) / 1e9
        }.min
      val gkSecs = timed(approx = true)
      val exactSecs = timed(approx = false)
      val k = graft.operators.EquiDepthHistogram.K
      val qs = (1 until k).map(i => i.toDouble / k)
      val bounds = li.agg(expr(
        s"approx_percentile(v, array(${qs.mkString(", ")}), 10000)")
        .as("bs")).head.getSeq[Double](0)
      val rankRow = li.agg(
        count(lit(1)).as("n"),
        bounds.zipWithIndex.map { case (b, i) =>
          sum(when(col("v") <= b, 1L).otherwise(0L)).as(s"r$i")
        }: _*).head
      val n = rankRow.getLong(0)
      val maxErr = bounds.indices.map { i =>
        math.abs(rankRow.getLong(i + 1) - (i + 1).toLong * n / k).toDouble / n
      }.max
      f"""{"gk_secs":$gkSecs%.3f,"exact_secs":$exactSecs%.3f,""" +
        f""""max_rank_err":$maxErr%.6f}"""
    }

  /** Sustained throughput of the streaming-curation loop: n docs (every
    * 7th low-quality, and the gate wins i%70 collisions; every other 10th
    * a near-dup of the nearest preceding surviving doc, so the dup source
    * is always a text that actually entered the index) through gate →
    * redact → index probe → kept/index appends across four micro-batches,
    * the full per-batch cost including the parquet and bucketed-index
    * writes. The number is fixed-cost-dominated at these 1000-doc batches
    * (each ingest runs about a dozen jobs), so it makes regressions in
    * that constant visible rather than claiming a peak rate. `packed`
    * selects the packed prefilter.
    */
  private def curationIngestRate(spark: SparkSession,
      packed: Boolean = false): Double = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val n = 4000
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def text(i: Int): String = {
      if (i % 7 == 0) "too short" // gated out (wins i%70 collisions)
      else {
        val base = (0 until 20).map(j => words((i * 7 + j * 3) % words.length))
        // never two consecutive multiples of 7: one step back at most
        val src = if (i % 10 == 0 && i > 0) {
          val p = if ((i - 1) % 7 == 0) i - 2 else i - 1
          (0 until 20).map(j => words((p * 7 + j * 3) % words.length)).drop(1)
        } else base
        src.mkString(" ")
      }
    }
    val tbl = if (packed) "bench_cur_idx_pk" else "bench_cur_idx"
    val idxPath = Files.createTempDirectory(tbl)
    val keptDir = idxPath.resolve("kept").toString
    val ckpt = Files.createTempDirectory("bench-cur-ckpt")
    val input = MemoryStream[(Long, String)](spark)
    val t0 = System.nanoTime()
    try {
      (0 until 4).foreach { b =>
        val batch = (b * n / 4) until ((b + 1) * n / 4)
        input.addData(batch.map(i => (i.toLong, text(i))))
        val q = graft.operators.CurationIngest.stream(
          input.toDF().toDF("doc_id", "text"),
          tbl, idxPath.toString, keptDir, ckpt.toString,
          threshold = 0.5, buckets = 8, packed = packed)
        q.awaitTermination(300000)
      }
      math.rint(n / ((System.nanoTime() - t0) / 1e9) * 10) / 10
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] curation rate FAILED: ${e.getMessage}")
        -1.0
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_sigs")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_buckets")
      FileUtils.deleteDirectory(idxPath.toFile)
      FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  /** Frames per second of the real vehicle decode: frames of a genuine
    * 64×48 JPEG through parse → unbase64 → executor-side ImageIo decode
    * and features. `extractFeatures` is a `mapPartitions`, so the count
    * cannot prune the decode away.
    */
  private def vehicleRealFps(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mr = 20000
    val jpeg = {
      val img = new java.awt.image.BufferedImage(64, 48,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64)
        img.setRGB(x, y, ((x * 4) << 16) | ((y * 5) << 8) | ((x + y) & 0xff))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
    val realFrames = spark.range(mr).select(
      concat(lit("""{"camera_id": "CAM_"""), col("id") % 3,
        lit("""", "timestamp": """), col("id").cast("double"),
        lit(""", "frame_data": """"), lit(jpeg), lit("\"}")).as("value"))
    val tr = System.nanoTime()
    val realCnt = graft.operators.Multimodal.extractFeatures(
      graft.streaming.VehiclePipeline.parse(realFrames)
        .select(col("timestamp").cast("long").as("doc_id"),
          unbase64(col("frame_data")).as("payload"))
        .as[graft.operators.Multimodal.MediaRow],
      graft.operators.ImageIoDecoder).count()
    val realSecs = (System.nanoTime() - tr) / 1e9
    if (realCnt == mr) math.rint(mr / realSecs * 10) / 10 else -1.0
  }
}
