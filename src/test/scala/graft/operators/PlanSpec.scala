package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}

import graft.SparkSpec

/** Physical-plan guardrails: the properties that make these plans survive
  * a 100× scale-up must hold structurally, not accidentally — filters
  * reach the parquet scan, projections prune the read schema, small
  * dimensions broadcast, codegen covers the hot path.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan.toString

  /** AQE-aware plan flattener shared by the text-movement walks (q87,
    * q102): descends through adaptive wrappers, query stages, and
    * reused exchanges so no exchange hides from the contract.
    */
  private def deepNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => deepNodes(a.executedPlan)
      case q: QueryStageExec => deepNodes(q.plan)
      case r: ReusedExchangeExec => deepNodes(r.child)
      case other => other.children.flatMap(deepNodes)
    })
  }

  private def executedNodes(df: DataFrame) =
    deepNodes(df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan)

  private def carriesAny(names: Set[String])(
      out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Boolean =
    out.exists(a => names(a.name))

  private def formatted(df: DataFrame): String =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01: shipdate filter is pushed to the parquet scan") {
    val plan = planOf(RelationalQueries.q01.build(spark, sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$plan")
  }

  test("q01: scan reads only the five needed lineitem columns") {
    val plan = planOf(RelationalQueries.q01.build(spark, sf0001))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
      "l_discount", "l_shipdate").foreach(c =>
      assert(readSchema.contains(c), s"$c missing from $readSchema"))
    Seq("l_orderkey", "l_partkey", "l_tax", "l_linenumber").foreach(c =>
      assert(!readSchema.contains(c), s"$c not pruned: $readSchema"))
  }

  test("q04: dimension joins are broadcast, fact join shuffles") {
    val plan = planOf(RelationalQueries.q04.build(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  test("q02: all predicates reach the part scan") {
    // toString truncates the PushedFilters list; assert its prefix and the
    // full predicate set in the Filter node above the scan
    val plan = planOf(RelationalQueries.q02.build(spark, sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(p_size)"), plan)
    assert(plan.contains("p_size#") && plan.contains("IN (Brand#1"), plan)
  }

  test("q21: whole-stage codegen covers the scorer pipeline (no UDF break)") {
    // AQE hides codegen stages until execution; inspect the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the "*(n)" prefix marks whole-stage-codegen'd operators
      val plan = planOf(PipelineQueries.q21.build(spark, sf0001))
      assert(plan.linesIterator.exists(l =>
        l.trim.matches("""[+\-: ]*\*\(\d+\) Project.*""")),
        s"scorer projection not codegen'd:\n${plan.take(1500)}")
      assert(plan.contains("charsum("),
        "native CharSum must be in the scorer plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLUDF"),
        "scorer must stay native")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q50: native fingerprint replaces the CodegenFallback fold") {
    val plan = planOf(TextQueries.q50.build(spark, sf0001))
    assert(plan.contains("wordfingerprint") ||
      plan.contains("WordFingerprint"),
      s"native fingerprint missing:\n${plan.take(2000)}")
    assert(!plan.contains("aggregate(") && !plan.contains("lambdafunction"),
      s"higher-order fold should be gone:\n${plan.take(2000)}")
  }

  test("q45: native graft_dot expression appears in the plan") {
    val plan = planOf(SimilarityQueries.q45.build(spark, sf0001))
    assert(plan.contains("DotProduct") || plan.toLowerCase.contains("dotproduct"),
      s"custom expression not in plan:\n${plan.take(2000)}")
  }

  test("q12: global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val plan = planOf(RelationalQueries.q12.build(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q119: the vocab cut is a distributed heap, never a global vocab sort") {
    val plan = planOf(TextQueries.q119.build(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("minhash candidate join: broadcast only below the size gate") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sf0001, "documents").limit(50)
    val sh = MinHashDedup.shingles(docs)
    val sigTable = MinHashDedup.signatures(sh)
    val sigs = sigTable
      .withColumn("sig", array((0 until MinHashDedup.NumHashes)
        .map(i => col(s"sig_$i").cast("int")): _*))
      .select(col("doc_id"), col("sig"))
      .join(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")),
        "doc_id")
    // small table + hint → broadcast
    val hinted = planOf(
      MinHashDedup.candidateStage(sigTable, sigs, 0.5, hintBroadcast = true))
    assert(hinted.contains("BroadcastHashJoin"), hinted.take(2000))
    // above the gate the hint is dropped; with auto-broadcast off (what a
    // too-big table looks like to the planner) the join must fall back to
    // a shuffle join instead of an unconditional broadcast
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = planOf(MinHashDedup
        .candidateStage(sigTable, sigs, 0.5, hintBroadcast = false))
      assert(!gated.contains("BroadcastHashJoin"),
        s"gated candidate join must not broadcast:\n${gated.take(2000)}")
      assert(gated.contains("SortMergeJoin") ||
        gated.contains("ShuffledHashJoin"), gated.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ann-lsh topK: every broadcast side is bounded by the query-id filter") {
    // The broadcast hint is honored regardless of size, so any broadcast
    // subtree WITHOUT a vec_id IN (...) bound would collect the full
    // corpus to the driver at scale. Assert structurally on the optimized
    // logical plan: each broadcast-hinted join side must contain an
    // In/InSet filter on vec_id.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val df = AnnLsh.topK(emb, 0L to 9L, k = 5)
    val optimized = df.asInstanceOf[ClassicDataset[_]]
      .queryExecution.optimizedPlan
    val broadcastSides: Seq[LogicalPlan] = optimized.collect {
      case j: Join =>
        val l = j.hint.leftHint.filter(_.strategy.isDefined).map(_ => j.left)
        val r = j.hint.rightHint.filter(_.strategy.isDefined).map(_ => j.right)
        l.toSeq ++ r.toSeq
    }.flatten
    assert(broadcastSides.nonEmpty, "expected a broadcast-hinted query side")
    broadcastSides.foreach { side =>
      val bounded = side.collectFirst {
        case f: Filter if f.condition.exists {
          case In(a, _) => a.references.exists(_.name == "vec_id")
          case InSet(a, _) => a.references.exists(_.name == "vec_id")
          case _ => false
        } => f
      }
      assert(bounded.isDefined,
        s"broadcast subtree not bounded to query ids:\n${side.toString.take(2000)}")
    }
  }

  test("no unconditional broadcast hint survives on an SF-scaling table") {
    // An explicit broadcast hint is honored regardless of
    // autoBroadcastJoinThreshold, so a hint over a table that grows with
    // SF (customer is SF×150k rows; lineitem SF×6M; …) is a driver OOM at
    // 100× even though it is correct and fast at sf0.1. Sweep the lazily
    // built query families and assert every broadcast-hinted join side
    // either touches only fixed-cardinality tables (nation=25, region=5
    // at ANY SF) or is bounded by an In/InSet filter (the ann-lsh
    // query-id pattern asserted above). Eager families (CC fixpoint,
    // LSH localCheckpoint, index build) are covered by their own gated
    // plan asserts instead.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, In, InSet}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scaling = Set("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
    // every family whose GraftQuery.build is lazy (no jobs at plan time);
    // the eager ones (CC fixpoint, LSH localCheckpoint, index build:
    // q68/q71/q43/q44 and the Sketch family) carry their own gated plan
    // asserts instead
    val lazyFamilies: Seq[GraftQuery] =
      RelationalQueries.all ++ PipelineQueries.all ++ AdvancedQueries.all ++
        SessionQueries.all ++ ArrayAggQueries.all ++ TextQueries.all ++
        ReconQueries.all ++ TrainPrepQueries.all ++ SqlSurfaceQueries.all ++
        SimilarityQueries.all ++
        Seq(DedupQueries.q40, DedupQueries.q41, DedupQueries.q42)
    assert(lazyFamilies.size >= 55, "sweep lost a query family")
    lazyFamilies.foreach { q =>
      val optimized = q.build(spark, sf0001).asInstanceOf[ClassicDataset[_]]
        .queryExecution.optimizedPlan
      val hintedSides: Seq[LogicalPlan] = optimized.collect {
        case j: Join =>
          j.hint.leftHint.filter(_.strategy.isDefined).map(_ => j.left).toSeq ++
            j.hint.rightHint.filter(_.strategy.isDefined).map(_ => j.right).toSeq
      }.flatten
      hintedSides.foreach { side =>
        val scalingLeaves = side.collectLeaves().flatMap {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.map(_.getName)
                .filter(n => scaling.exists(t => n.startsWith(t)))
            case _ => Nil
          }
          case _ => Nil
        }
        // a broadcast side over a scaling table is acceptable ONLY when
        // a filter bounds its cardinality independently of SF: an
        // In/InSet key list (the ann-lsh query-id pattern) or a constant
        // comparison on an id column (q45's vec_id < 10 query set)
        val bounded = side.collectFirst {
          case f: Filter if f.condition.exists {
            case _: In | _: InSet => true
            case c: BinaryComparison
                if c.references.exists(_.name.endsWith("id")) &&
                  (c.left.foldable || c.right.foldable) => true
            case _ => false
          } => f
        }.isDefined
        assert(scalingLeaves.isEmpty || bounded,
          s"${q.name}: unconditional broadcast hint over SF-scaling " +
            s"table(s) ${scalingLeaves.mkString(",")}:\n" +
            side.toString.take(1500))
      }
    }
  }

  test("q101: 1-row totals broadcasts unhinted; top-k avoids a global sort") {
    // the totals frame is a grouping-key-free aggregate (maxRows = 1):
    // Catalyst must broadcast the cross join off that estimate with NO
    // hint (a hint would put SF-scaling lineage behind a broadcast — the
    // sweep above forbids it), and the Gumbel-top-k must compile to
    // per-partition heaps, not a full sort
    val plan = planOf(TrainPrepQueries.q101.build(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"totals cross join must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product over the corpus:\n${plan.take(1500)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n${plan.take(1500)}")
  }

  test("q62: the whole prep pipeline reads the documents table ONCE " +
      "and the gate never re-inlines the regex tree below the project") {
    // r20 (ADVICE r19): the pushdown barrier is now a nondeterministic
    // identity over the gate boolean instead of an eager checkpoint, so
    // the FULL lineage is visible here — exactly one documents scan,
    // and no Filter node may carry the normalize/langScores regexes
    // (the PushDownPredicates re-inlining this gate exists to stop).
    val plan = planOf(TrainPrepQueries.q62.build(spark, sf0001))
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1,
      s"langid+quality+dedup+stats must share one scan, found $scans:\n" +
        plan.take(2000))
    val regexInFilter = plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("regexp_"))
    assert(!regexInFilter,
      s"the quality gate re-inlined the regex tree into a Filter:\n" +
        plan.take(2000))
  }

  test("q58/q60: outer joins pre-aggregate or prune before joining") {
    val full = planOf(ReconQueries.q58.build(spark, sf0001))
    // the full-outer must join two aggregates (date cardinality), not facts
    assert(full.contains("SortMergeJoin FullOuter") ||
      full.contains("ShuffledHashJoin FullOuter") ||
      full.contains("FullOuter"), full.take(2000))
    val right = planOf(ReconQueries.q60.build(spark, sf0001))
    assert(right.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"fact side must be filter-pruned before the right join:\n$right")
  }

  test("q73: weighted sample is a TakeOrderedAndProject, not a global sort") {
    val plan = planOf(TrainPrepQueries.q73.build(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-ES top-n must use per-partition heaps:\n${plan.take(2000)}")
  }

  test("selective dim join injects a runtime bloom filter on the fact scan") {
    import org.apache.spark.sql.functions._
    // Catalyst's InjectRuntimeFilter is the at-scale row-group skipper:
    // a selective dimension filter becomes a bloom might_contain() on
    // the fact side BEFORE the shuffle/join. Thresholds are sized for
    // real tables — lower them so the sf0.001 fixture qualifies, and
    // disable broadcast (a broadcast join already prunes via DPP).
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val part = graft.sources.Tables(spark, sf0001, "part")
        .filter(col("p_brand") === "Brand#13")
      val joined = graft.sources.Tables(spark, sf0001, "lineitem")
        .join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      val plan = planOf(joined)
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (no manual salting)") {
    import org.apache.spark.sql.functions._
    // SaltedAgg handles agg-side skew; JOIN-side skew is AQE's job — a
    // hot key's partition is split into advisory-sized slices with the
    // other side replicated, visible as SortMergeJoin(skew=true). The
    // engine relies on this at 100 TB instead of hand-salted joins, so
    // pin the behavior. Thresholds sized down for a fixture-sized input;
    // pad must be incompressible (map sizes are compressed bytes).
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      // the downstream agg needs re-clustering after the split; accept
      // the extra shuffle (the split is still the win on a real skew)
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val left = spark.range(0, 150000).select(
        when(col("id") < 120000, 0L).otherwise(pmod(col("id"), lit(100)))
          .as("k"),
        sha2(col("id").cast("string").cast("binary"), 256).as("pad"))
      val right = spark.range(0, 100)
        .select(col("id").as("k"), col("id").as("w"))
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"))
      assert(joined.collect().head.getLong(0) === 150000L)
      val plan = joined.asInstanceOf[ClassicDataset[_]]
        .queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"hot key must trigger an AQE skew split:\n${plan.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q87 funnel: text shuffles once (in the survivor job), never after") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val carriesText = carriesAny(Set("text", "norm")) _
    def textShuffles(ns: Seq[SparkPlan]) = ns.collect {
      case e: ShuffleExchangeLike if carriesText(e.output) => e
    }
    def textBroadcasts(ns: Seq[SparkPlan]) = ns.collect {
      case e: BroadcastExchangeLike if carriesText(e.output) => e
    }
    // capture each stage on its way into the materialization, so the
    // pre-checkpoint jobs and the downstream plan are all walkable
    val stages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val df = TrainPrepQueries.curationFunnel(spark, sf0001,
      d => { stages += d; graft.Checkpoints.eager(d) })
    df.collect() // materialize AQE's final plans
    val all = stages.toSeq.flatMap(executedNodes) ++ executedNodes(df)
    assert(textShuffles(all).size <= 1,
      "text may cross at most ONE exchange — the survivor join's merge " +
        "path when the id side outgrows the broadcast threshold; " +
        s"found:\n${textShuffles(all).mkString("\n")}")
    assert(textBroadcasts(all).isEmpty,
      s"document text must never broadcast:\n${textBroadcasts(all).mkString("\n")}")
  }

  test("q102 rewrite: text crosses one hash exchange; candidate path is digest-only") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val carriesText = carriesAny(Set("text", "words", "block", "clean_text")) _
    val df = DedupQueries.q102.build(spark, sf0001)
    df.collect() // materialize AQE's final plans
    val all = executedNodes(df)
    // the presentation ORDER BY (range partitioning) is the oracle
    // gate's determinism sort, not part of the rewrite — a production
    // run writes without it; every HASH exchange is the real contract
    val textHashShuffles = all.collect {
      case e: ShuffleExchangeLike
          if carriesText(e.output) &&
            !e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(textHashShuffles.size <= 1,
      "words/blocks may cross at most the ONE verdict-join exchange; " +
        s"found:\n${textHashShuffles.mkString("\n")}")
    val textBroadcasts = all.collect {
      case e: BroadcastExchangeLike if carriesText(e.output) => e
    }
    assert(textBroadcasts.isEmpty,
      s"document text must never broadcast:\n${textBroadcasts.mkString("\n")}")
  }

  test("q108 substr dedup: text crosses at most one hash exchange; gram path is longs") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val carriesText = carriesAny(Set("text", "words", "clean_text")) _
    val df = DedupQueries.q108.build(spark, sf0001)
    df.collect() // materialize AQE's final plans
    val all = executedNodes(df)
    // the gram stream, occurrence counts, survivor agg, and islands
    // window all run on (doc_id, pos, fp) longs; the single permitted
    // text exchange is the rewrite join that brings interval sets to
    // the tokenized corpus (q102's contract); the presentation ORDER BY
    // (range partitioning) is the oracle gate's determinism sort
    val textHashShuffles = all.collect {
      case e: ShuffleExchangeLike
          if carriesText(e.output) &&
            !e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(textHashShuffles.size <= 1,
      "words may cross at most the ONE rewrite-join exchange; " +
        s"found:\n${textHashShuffles.mkString("\n")}")
    val textBroadcasts = all.collect {
      case e: BroadcastExchangeLike if carriesText(e.output) => e
    }
    assert(textBroadcasts.isEmpty,
      s"document text must never broadcast:\n${textBroadcasts.mkString("\n")}")
  }

  test("q103: the rules projection stays inside whole-stage codegen") {
    // aggregate/transform array folds are CodegenFallback and would
    // break the stage — the rules are arithmetic + regexp_count +
    // array_contains precisely to avoid that (GopherRules scaladoc)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(TextQueries.q103.build(spark, sf0001))
      assert(plan.linesIterator.exists(l =>
        l.trim.matches("""[+\-: ]*\*\(\d+\) Project.*""")),
        s"rules projection not codegen'd:\n${plan.take(1500)}")
      assert(!plan.contains("aggregate(") && !plan.contains("transform("),
        s"array folds crept back into the rules projection:\n${plan.take(1500)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q90: exact-k stratified sample runs through the native top-k op") {
    val plan = planOf(TrainPrepQueries.q90.build(spark, sf0001))
    assert(plan.contains("TopKPerGroup"),
      s"q90 fell back to a window sort:\n$plan")
    assert(!plan.contains("Window"),
      s"q90 must not contain a window operator:\n$plan")
  }

  test("q93: chunking is map-side — the only exchange is the output sort") {
    val plan = planOf(TextQueries.q93.build(spark, sf0001))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size === 1 &&
      exchanges.head.contains("rangepartitioning"),
      s"chunking must not shuffle before the presentation sort:\n$plan")
  }

  test("q94: per-doc keyword top-3 runs through the native top-k op") {
    val plan = planOf(TextQueries.q94.build(spark, sf0001))
    assert(plan.contains("TopKPerGroup"),
      s"q94 fell back to a window sort:\n$plan")
    assert(!plan.contains("Window"),
      s"q94 must not contain a window operator:\n$plan")
  }

  test("q97: pattern match is one window shuffle + a top-k, no global sort") {
    val plan = planOf(SessionQueries.q97.build(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-25 must compile to TakeOrderedAndProject:\n$plan")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size === 1 && exchanges.head.contains("user_id"),
      s"only the user-partition window exchange is allowed:\n$plan")
  }

  test("q99: four funnel window layers share one user-partition exchange") {
    val plan = planOf(SessionQueries.q99.build(spark, sf0001))
    val userExchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning(user_id")).toSeq
    assert(userExchanges.size === 1,
      s"chained window layers must reuse one clustering:\n$plan")
  }

  test("q82/q83: documents scan reads only doc_id and text") {
    Seq(DedupQueries.q82, TextQueries.q83).foreach { q =>
      val readSchema = planOf(q.build(spark, sf0001)).linesIterator
        .find(_.contains("ReadSchema")).getOrElse("")
      Seq("doc_id", "text").foreach(c =>
        assert(readSchema.contains(c), s"${q.name}: $c missing: $readSchema"))
      Seq("lang", "source", "n_chars").foreach(c =>
        assert(!readSchema.contains(c), s"${q.name}: $c not pruned: $readSchema"))
    }
  }

  test("q85: the bloom gate is joinless — a codegen'd bit-probe " +
      "projection (element_at over the literal word array, r18)") {
    val plan = planOf(SketchQueries.q85.build(spark, sf0001))
    // the md5-60 double-hashing probe is pure Column arithmetic: the
    // bitmap literal indexed per lane inside the scan projection
    assert(plan.contains("element_at"),
      s"bloom bit-probe missing from plan:\n${plan.take(2000)}")
    assert(!plan.contains("Join"),
      s"the pre-filter must not introduce any join:\n${plan.take(2000)}")
  }

  test("q104/q105: winnow kernel runs ONCE, in codegen; no window fallback; text stays put") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    // the oracle's explode-every-gram + window-min formulation is the
    // correctness MIRROR, not the plan: selection must happen in ONE
    // codegen'd scan projection (materialized before the explode so
    // neither the two downstream consumers nor InferFiltersFromGenerate
    // re-run the O(n) kernel), no Window operator anywhere, and no
    // exchange ever carries text/words/skeys — only doc_id/fp longs move
    val carriesText = carriesAny(Set("text", "norm", "ws", "words", "skeys")) _
    val stages = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val fps = DedupQueries.winnowFps(spark, sf0001,
      d => { stages += d; graft.Checkpoints.eager(d) })
    val stagePlan = planOf(stages.head)
    assert(stagePlan.linesIterator.count(_.contains("graft_winnow")) === 1,
      s"kernel must be evaluated exactly once:\n$stagePlan")
    assert(stagePlan.linesIterator.exists(l =>
      l.contains("graft_winnow") && l.contains("*(")),
      s"graft_winnow fenced out of whole-stage codegen:\n$stagePlan")
    for ((name, df) <- Seq("q104" -> DedupQueries.q104.build(spark, sf0001),
        "q105" -> DedupQueries.q105.build(spark, sf0001), "fps" -> fps)) {
      df.collect() // materialize AQE's final plans
      val all = executedNodes(df)
      val plan = planOf(df)
      assert(!plan.contains("graft_winnow"),
        s"$name: kernel leaked past the materialization barrier:\n${plan.take(2000)}")
      assert(!plan.contains("Window"),
        s"$name: selection fell back to a window formulation:\n${plan.take(2000)}")
      val textMoves = all.collect {
        case e: ShuffleExchangeLike if carriesText(e.output) => e
        case e: BroadcastExchangeLike if carriesText(e.output) => e
      }
      assert(textMoves.isEmpty,
        s"$name: text/words/skeys crossed an exchange:\n${textMoves.mkString("\n")}")
    }
  }

  test("q115 funnel: text enters only the shingle-side survivor join") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val carriesText = carriesAny(Set("text", "norm")) _
    val df = DedupQueries.q115.build(spark, sf0001)
    df.collect() // materialize AQE's final plans
    val all = executedNodes(df)
    // the report path moves (doc_id, source, n_words) only; the single
    // permitted text exchange is the survivor-id join feeding shingles
    val textShuffles = all.collect {
      case e: ShuffleExchangeLike if carriesText(e.output) => e
    }
    assert(textShuffles.size <= 1,
      "text may cross at most the shingle-side survivor join; " +
        s"found:\n${textShuffles.mkString("\n")}")
    val textBroadcasts = all.collect {
      case e: BroadcastExchangeLike if carriesText(e.output) => e
    }
    assert(textBroadcasts.isEmpty,
      s"document text must never broadcast:\n${textBroadcasts.mkString("\n")}")
  }

  test("q117 split: beyond the shingle path, only ids and counters move") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    // n_words is projected BEFORE its join, so no exchange after the
    // shingle explode may carry text/norm/words at all
    val carriesText = carriesAny(Set("text", "norm", "words")) _
    val df = DedupQueries.q117.build(spark, sf0001)
    df.collect()
    val all = executedNodes(df)
    val textShuffles = all.collect {
      case e: ShuffleExchangeLike if carriesText(e.output) => e
    }
    assert(textShuffles.isEmpty,
      s"split/report path must move ids only:\n${textShuffles.mkString("\n")}")
    val textBroadcasts = all.collect {
      case e: BroadcastExchangeLike if carriesText(e.output) => e
    }
    assert(textBroadcasts.isEmpty,
      s"document text must never broadcast:\n${textBroadcasts.mkString("\n")}")
  }

  test("q133 BM25: top-k is a TakeOrderedAndProject, not a global window") {
    val plan = planOf(Bm25.q133.build(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"bm25 top-k must be a distributed partial top-k:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q138 profile: five per-column scans, each pruned to ONE column") {
    val plan = planOf(TableProfile.q138.build(spark, sf0001))
    // the EXPAND anti-pattern (one wide agg with multiple count
    // distincts) multiplied the input 5x — measured 7.4s vs 0.13s
    assert(!plan.contains("Expand"),
      s"profile must not EXPAND:\n${plan.take(2000)}")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.size >= 5, s"expected >=5 pruned scans, got ${reads.size}")
    reads.foreach { r =>
      // every scan reads exactly one column: a single struct field in
      // the ReadSchema payload (one ':' inside the struct<...>)
      val inner = r.substring(r.indexOf("struct<") + 7)
      assert(inner.count(_ == ':') == 1,
        s"profile scan must read ONE column: $r")
    }
  }

  test("q135 cross-decontam: the TRAIN side never broadcasts (the eval " +
      "side is bounded by design and MAY — AQE rightly does at this SF)") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val carriesRaw = carriesAny(Set("text", "norm", "words")) _
    val df = CrossDecontam.q135.build(spark, sf0001)
    df.collect()
    val nodes = executedNodes(df)
    val rawBroadcasts = nodes.collect {
      case e: BroadcastExchangeLike if carriesRaw(e.output) => e
    }
    assert(rawBroadcasts.isEmpty,
      s"raw text must never broadcast:\n${rawBroadcasts.mkString("\n")}")
    // a shingle frame may broadcast ONLY as the eval side (its output
    // is eval-named); the 100 TB train side must stay an exchange
    val trainBroadcasts = nodes.collect {
      case e: BroadcastExchangeLike
        if e.output.exists(_.name.contains("shingle")) &&
          e.output.exists(_.name.contains("train_doc")) => e
    }
    assert(trainBroadcasts.isEmpty,
      s"train-side shingles must never broadcast:\n${trainBroadcasts.mkString("\n")}")
  }

  test("q149 rank-sum: the corpus-sized window is PARTITIONED by " +
      "bucket; only the 1025-row bucket-offsets window is global") {
    val plan = planOf(RankSum.q149.build(spark, sf0001))
    // the two-level prefix sum: the per-value cumulative window must
    // carry the bucket partition spec, or ranking funnels the whole
    // distinct-value frame through one partition
    assert(plan.contains("partitionBy") ||
      plan.contains("windowspecdefinition(bkt"),
      s"value window must be bucket-partitioned:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  /** The AQE-flattened nodes of EVERY plan `q` executes — the
    * checkpoints its build runs eagerly, then the final collect: a
    * window inside an eagerly materialized frame shows only in its
    * checkpoint's plan.
    */
  private def allExecutedNodes(q: GraftQuery)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = q.build(spark, sf0001)
      df.collect()
      // listener events arrive asynchronously but in order, so once
      // the collect's own event is in, every checkpoint's is too
      val last = df.asInstanceOf[ClassicDataset[_]].queryExecution
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq last) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(_ eq last),
        s"${q.name}: the collect never reached the listener")
      seen.asScala.toSeq.flatMap(qe => deepNodes(qe.executedPlan))
    } finally spark.listenerManager.unregister(listener)
  }

  test("prefix-sum kernel callers: the corpus-sized window is " +
      "PARTITIONED by bucket; only the bucket-offsets window is global") {
    import org.apache.spark.sql.execution.window.WindowExec
    def onBkt(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.references.exists(_.name == "bkt")
    val callers = Seq(RankSum.q149, PeakConcurrency.q198,
      KruskalWallis.q247, CliffsDelta.q250, JonckheereTerpstra.q268,
      CramerVonMises.q269, MoodMedian.q271, DunnPosthoc.q272,
      LogRank.q273, AndersonDarling.q278, AnsariBradley.q286,
      KaplanMeier.q287, KuiperTest.q289, BrunnerMunzel.q290)
    callers.foreach { q =>
      val windows = allExecutedNodes(q).collect { case w: WindowExec => w }
      assert(windows.exists(_.partitionSpec.exists(onBkt)),
        s"${q.name}: no bucket-partitioned prefix window:\n" +
          windows.mkString("\n").take(3000))
      windows.filter(_.partitionSpec.isEmpty).foreach { w =>
        assert(w.orderSpec.exists(onBkt),
          s"${q.name}: global window off the offsets frame:\n" +
            w.toString.take(1200))
      }
    }
  }

  test("q150 correlation matrix: ONE lineitem scan feeds all pairs " +
      "(a per-pair agg would re-scan |pairs| times) and no EXPAND") {
    val plan = planOf(CorrelationMatrix.q150.build(spark, sf0001))
    assert(!plan.contains("Expand"),
      s"moment agg must not EXPAND:\n${plan.take(2000)}")
    val scans = plan.linesIterator
      .filter(l => l.contains("Scan parquet") || l.contains("FileScan"))
      .size
    assert(scans == 1, s"expected exactly 1 lineitem scan, got $scans")
  }

  test("q157 maintained-index scoring PUSHES the query terms into the " +
      "state scan (at scale: a file-skipping read of term-partitioned " +
      "postings, never a full state sweep)") {
    val plan = planOf(Bm25.q157.build(spark, sf0001))
    assert(plan.contains("PushedFilters") &&
      """PushedFilters: \[[^\]]*tok""".r.findFirstIn(plan).isDefined,
      s"query terms must reach the state scan:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("r13 audit tier: every scan is pruned to exactly the needed " +
      "columns and nothing corpus-sized crosses a non-broadcast join") {
    // q159: one lineitem column feeds the digit ladder
    val p159 = planOf(BenfordAudit.q159.build(spark, sf0001))
    val rs159 = p159.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs159.nonEmpty && rs159.forall(_.contains("l_extendedprice")))
    assert(rs159.forall(l => !l.contains("l_orderkey") &&
      !l.contains("l_comment")), s"unpruned q159 scan:\n${rs159.mkString}")
    // q160: user_id + event_type only
    val p160 = planOf(CalibrationError.q160.build(spark, sf0001))
    val rs160 = p160.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs160.forall(l => !l.contains("props") && !l.contains("value")),
      s"unpruned q160 scan:\n${rs160.mkString}")
    // q161: event_type + ts only
    val p161 = planOf(DecayedCounts.q161.build(spark, sf0001))
    val rs161 = p161.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs161.forall(l => !l.contains("props") && !l.contains("user_id")),
      s"unpruned q161 scan:\n${rs161.mkString}")
    // q162: the margins/χ² joins run on the ≤|A|·|B| cell frame —
    // broadcast, never a corpus-sized shuffle join; no cartesian
    val p162 = planOf(ChiSquareDrift.q162.build(spark, sf0001))
    assert(!p162.contains("CartesianProduct"), p162.take(2000))
    assert(!p162.contains("SortMergeJoin"),
      s"cell-frame joins must broadcast:\n${p162.take(3000)}")
    // all four combine map-side: a partial aggregate precedes every
    // exchange that feeds a final aggregate
    Seq(p159, p160, p161, p162).foreach(p =>
      assert(p.contains("partial_"), "missing map-side combine"))
  }

  test("q196: the native Damerau-Levenshtein evaluates inside " +
      "whole-stage codegen; the length gate precedes the DP") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(FuzzyMatch.q196.build(spark, sf0001))
      // the dl filter/projection lives in a codegen'd stage (a
      // CodegenFallback expression would print the fallback marker and
      // drop the *(n) stage prefix from its operator)
      assert(plan.linesIterator.exists(l =>
        l.contains("graft_damerau") || l.contains("damerau")),
        s"native expression missing from the plan:\n${plan.take(2000)}")
      assert(!plan.contains("CodegenFallback"),
        s"DL expression fell out of codegen:\n${plan.take(2000)}")
      // the cheap length gate is part of the same join condition /
      // filter, so no row reaches the DP without passing it
      assert(plan.contains("length"),
        s"length gate missing:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q197: shard assignment is pure map-side — the only exchanges " +
      "feed the audit aggregates, and the CASE tree stays in codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(ShardRebalance.q197.build(spark, sf0001))
      assert(!plan.contains("CodegenFallback"),
        s"HRW CASE tree fell out of codegen:\n${plan.take(2000)}")
      // assignment itself must not shuffle: every Exchange in the plan
      // is a 1-row/|shards| aggregate or the final sort, never a
      // repartition of the scored corpus
      val exchanges = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.forall(l =>
        l.contains("hrw_new") || l.contains("mod_new")),
        s"unexpected corpus shuffle:\n${exchanges.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** r17 batch shape guardrails, pinned from the exchange census
    * measured at sf0.001 in r17 (measured counts, then asserted as
    * BOUNDS so AQE stage fusion can only improve them).
    */
  test("r17 monitoring tier (q233/q234/q238): at most three " +
      "exchanges — the hourly/daily census, the per-type window, the " +
      "per-type census — and zero broadcasts of corpus frames") {
    Seq(LjungBox.q233, HaarEnergy.q234, DowAnova.q238).foreach { q =>
      val df = q.build(spark, sf0001)
      df.collect()
      val names = executedNodes(df).map(_.getClass.getSimpleName)
      assert(names.count(_.contains("ShuffleExchange")) <= 3,
        s"${q.name} grew a fourth exchange")
      assert(!names.exists(_.toLowerCase.contains("python")))
    }
  }

  test("q241: the priority groupBy REUSES the rank window's " +
      "exchange — two shuffles total, no broadcast") {
    val df = TrimmedMean.q241.build(spark, sf0001)
    df.collect()
    val names = executedNodes(df).map(_.getClass.getSimpleName)
    assert(names.count(_.contains("ShuffleExchange")) <= 2,
      "the census must ride the window's hash partitioning")
  }

  test("q239: the head selection is a distributed TakeOrdered, " +
      "never a single-partition window over |vocab|") {
    val plan = planOf(TokenBurstiness.q239.build(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort/window:\n${plan.take(1500)}")
  }

  test("r18 scan-dominated tier: exchange counts stay at the " +
      "measured census (ProfileR18Plans) and nothing leaves codegen") {
    // measured at sf0.001: q249=1, q253=3, q254=4, q251=5, q248=5 —
    // every shuffle PAST the first lands on a dimension frame
    // (|sources × langs|, count-of-counts, |types × days|)
    val bounds = Seq(McNemar.q249 -> 1, Chao1Richness.q253 -> 3,
      DiversityIndex.q254 -> 4, JsDivergence.q251 -> 5,
      RunsTest.q248 -> 5)
    bounds.foreach { case (q, cap) =>
      val df = q.build(spark, sf0001)
      df.collect()
      val names = executedNodes(df).map(_.getClass.getSimpleName)
      assert(names.count(_.contains("ShuffleExchange")) <= cap,
        s"${q.name} grew past its $cap-exchange census")
      assert(!names.exists(_.toLowerCase.contains("python")))
    }
  }

  test("r19 prefix-swap family (q174/q187/q198/q214/q219): no " +
      "single-partition WindowExec ever consumes a corpus-growing " +
      "frame — every unpartitioned window runs on the bucket-offsets " +
      "or decile-census planning frame (VERDICT r18 item 1)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // corpus identifiers: if one of these reaches an unpartitioned
    // window, the plan is the single-partition sort the conversion
    // was built to kill
    val corpusCols = Set("custkey", "doc_id", "p_partkey", "user_id",
      "session_id", "pi", "ms", "s", "monetary", "last_order",
      "n_orders", "at", "delta", "n_words", "word_len", "alpha_ratio",
      "partkey", "rev")
    // q216 (ABC prefix swap) and q148 (distributed exact percentile)
    // joined the family in the r19 optimization round — same contract
    val family = Seq(RankFusion.q174, Skyline.q187,
      PeakConcurrency.q198, RfmSegmentation.q214, DecileLift.q219,
      AbcClassification.q216, EquiDepthHistogram.q148)
    family.foreach { q =>
      val df = q.build(spark, sf0001)
      df.collect() // materialize AQE's final plans
      val globals = executedNodes(df).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      globals.foreach { w =>
        assert(w.output.exists(a =>
          a.name.startsWith("bkt") || a.name == "decile"),
          s"${q.name}: unpartitioned window outside the planning " +
            s"frames:\n${w.toString.take(1200)}")
        val leaked = w.output.map(_.name).filter(corpusCols)
        assert(leaked.isEmpty,
          s"${q.name}: corpus column(s) ${leaked.mkString(",")} in a " +
            s"single-partition window:\n${w.toString.take(1200)}")
      }
    }
    // the peak pick (q198) and hub selection (q207) are distributed
    // TakeOrderedAndProject heaps, not global row_number windows
    assert(planOf(PeakConcurrency.q198.build(spark, sf0001))
      .contains("TakeOrderedAndProject"))
    assert(planOf(LinkPrediction.q207.build(spark, sf0001))
      .contains("TakeOrderedAndProject"))
    // q212's per-stratum cut runs through the native bounded-heap
    // operator, never a full per-stratum sort of the corpus (r19)
    assert(planOf(StratifiedSample.q212.build(spark, sf0001))
      .contains("TopKPerGroup"))
  }

  test("r19 statistics tier: exchange counts stay at the measured " +
      "census (ProfileR19Plans) and nothing leaves codegen") {
    // measured at sf0.001: the 1-row cell censuses (q258/q259) take
    // one exchange; the ≤k-row grids two; every shuffle past the
    // scan's lands on a dimension frame (|months|, |types × days|,
    // |weeks × k|, bucket offsets, |vocab| for q262's join)
    val bounds = Seq(CochranQ.q258 -> 1, FleissKappa.q259 -> 1,
      CochranArmitage.q260 -> 2, MantelHaenszel.q261 -> 2,
      HellingerDrift.q262 -> 10, CaptureRecapture.q263 -> 2,
      SeasonalIndex.q264 -> 3, FriedmanTest.q265 -> 6,
      PageTrend.q266 -> 5, KendallW.q267 -> 14,
      JonckheereTerpstra.q268 -> 8, CramerVonMises.q269 -> 8)
    bounds.foreach { case (q, cap) =>
      val df = q.build(spark, sf0001)
      df.collect()
      val names = executedNodes(df).map(_.getClass.getSimpleName)
      assert(names.count(_.contains("ShuffleExchange")) <= cap,
        s"${q.name} grew past its $cap-exchange census")
      assert(!names.exists(_.toLowerCase.contains("python")), q.name)
      assert(names.exists(_.contains("WholeStageCodegen")), q.name)
    }
  }

  test("r19 late statistics tier (q270-q281): exchange counts stay " +
      "at the measured census and nothing leaves codegen") {
    // measured at sf0.001 in r19 AFTER the census-eager
    // rewrites: the one-agg battery (q279) takes one exchange; the
    // checkpoint-fed grids (q270-q272) four; the hourly-series trio
    // and Bowker ride |types × hours| / k² frames (3-5); the
    // two-level swaps (q273/q278) seven. Every exchange past the
    // scan's lands on a census/dimension frame.
    val bounds = Seq(Levene.q270 -> 4, MoodMedian.q271 -> 4,
      DunnPosthoc.q272 -> 4, LogRank.q273 -> 7, Kpss.q274 -> 5,
      HurstExponent.q275 -> 3, DurbinWatson.q276 -> 3,
      DunningKeyness.q277 -> 5, AndersonDarling.q278 -> 7,
      CronbachAlpha.q279 -> 1, BowkerSymmetry.q280 -> 4,
      WilsonInterval.q281 -> 4, JarqueBera.q282 -> 2,
      Bartlett.q283 -> 2, BreslowDay.q284 -> 2, TukeyHsd.q285 -> 2,
      AnsariBradley.q286 -> 7, KaplanMeier.q287 -> 8,
      MarkovEntropy.q288 -> 4, KuiperTest.q289 -> 7,
      BrunnerMunzel.q290 -> 6, WelchAnova.q291 -> 2)
    bounds.foreach { case (q, cap) =>
      val df = q.build(spark, sf0001)
      df.collect()
      val names = executedNodes(df).map(_.getClass.getSimpleName)
      assert(names.count(_.contains("ShuffleExchange")) <= cap,
        s"${q.name} grew past its $cap-exchange census")
      assert(!names.exists(_.toLowerCase.contains("python")), q.name)
      assert(names.exists(_.contains("WholeStageCodegen")), q.name)
    }
  }

  test("r18 prefix-sum/grid tier: pure JVM codegen, no python, no " +
      "corpus-side broadcast join") {
    Seq(KendallTau.q246, KruskalWallis.q247, CliffsDelta.q250,
      CramersV.q252, TheilsU.q255, TopkTurnover.q256).foreach { q =>
      val df = q.build(spark, sf0001)
      df.collect()
      val names = executedNodes(df).map(_.getClass.getSimpleName)
      assert(!names.exists(_.toLowerCase.contains("python")), q.name)
      assert(names.exists(_.contains("WholeStageCodegen")), q.name)
    }
  }
}
