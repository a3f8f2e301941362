package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered as a
  * `GraftQuery` in one of the suite objects; queries with a DuckDB-oracle
  * SQL get the full t2 hash check, the rest get rows-only + ScalaTest
  * oracles.
  */
object SparkEntry {

  private def registry: Seq[GraftQuery] = Seq(
    RelationalQueries.all, PipelineQueries.all, AdvancedQueries.all,
    SessionQueries.all, ArrayAggQueries.all, DedupQueries.all,
    SimilarityQueries.all, TextQueries.all, SketchQueries.all,
    ReconQueries.all, TrainPrepQueries.all, SqlSurfaceQueries.all,
    OverlapQueries.all, KmvSketch.all, TextRank.all, DumpNovelty.all,
    EmbeddingOutliers.all, HardNegatives.all, Bm25.all, CharEntropy.all,
    CrossDecontam.all, MmrDiversify.all, TransitionMatrix.all,
    TableProfile.all, RobustOutliers.all, StatsQueries.all, CurationAudit.all,
    TemperatureMix.all, ScoreCalibration.all, Cuped.all, MaterializedAgg.all,
    EquiDepthHistogram.all, RankSum.all, CorrelationMatrix.all,
    VocabDrift.all, GiniConcentration.all, ScdHistory.all, IncrementalCc.all,
    KappaAgreement.all, ZOrderClustering.all, RankingMetrics.all,
    BenfordAudit.all, CalibrationError.all, DecayedCounts.all,
    ChiSquareDrift.all, KAnonymity.all, ProfileDrift.all, Attribution.all,
    MarketBasket.all, TriangleCount.all, CdcMerge.all, GapFill.all,
    TargetEncoding.all, IsotonicCalibration.all, TheilSenTrend.all,
    RankFusion.all, PageRank.all, ApproxTriangles.all, OrcWarehouse.all,
    EntityResolution.all, LatenessAudit.all, DataContract.all, GdprPurge.all,
    SchemaEvolution.all, ChangePoint.all, GraphBfs.all, PrioritySample.all,
    Skyline.all, DpRelease.all, LDiversity.all, OhlcBars.all, KCore.all,
    LabelPropagation.all, MaxDrawdown.all, CompactionPlanner.all,
    ItemSimilarity.all, FuzzyMatch.all, ShardRebalance.all,
    PeakConcurrency.all, Hits.all, Twap.all, MutualKnn.all,
    SeriesStability.all, PointInTimeJoin.all, SeasonalNaive.all, KsDrift.all,
    WeightedMedian.all, LinkPrediction.all, FdAudit.all,
    SequentialPatterns.all, VocabSaturation.all, CountMinSketch.all,
    StratifiedSample.all, FrequentPaths.all, RfmSegmentation.all,
    StumpScreening.all, AbcClassification.all, DebounceAudit.all, LeadLag.all,
    DecileLift.all, RepetitionAudit.all, RollingAnomaly.all,
    PositionAttribution.all, CohortLtv.all, FulfillmentLag.all,
    FanoutProfiler.all, DiscountLift.all, ActiveUsers.all,
    GrowthAccounting.all, ShapleyAttribution.all, SpearmanCorrelation.all,
    SessionEntryExit.all, EmdDrift.all, LjungBox.all, HaarEnergy.all,
    PhoneticBlocking.all, HazardTable.all, MannKendall.all, DowAnova.all,
    TokenBurstiness.all, AspectComention.all, TrimmedMean.all,
    MarkovBacktest.all, AspectDrift.all, TailIndex.all, KendallTau.all,
    KruskalWallis.all, RunsTest.all, McNemar.all, CliffsDelta.all,
    JsDivergence.all, CramersV.all, Chao1Richness.all, DiversityIndex.all,
    TheilsU.all, TopkTurnover.all, RankBiasedOverlap.all, CochranQ.all,
    FleissKappa.all, CochranArmitage.all, MantelHaenszel.all,
    HellingerDrift.all, CaptureRecapture.all, SeasonalIndex.all,
    FriedmanTest.all, PageTrend.all, KendallW.all, JonckheereTerpstra.all,
    CramerVonMises.all, Levene.all, CronbachAlpha.all, WilsonInterval.all,
    BowkerSymmetry.all, MoodMedian.all, DunnPosthoc.all, LogRank.all,
    Kpss.all, HurstExponent.all, DurbinWatson.all, DunningKeyness.all,
    AndersonDarling.all, JarqueBera.all, Bartlett.all, BreslowDay.all,
    TukeyHsd.all, AnsariBradley.all, KaplanMeier.all, MarkovEntropy.all,
    KuiperTest.all, BrunnerMunzel.all, WelchAnova.all).flatten

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q04.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** The registered queries that a comma-separated list of name prefixes
    * selects (`q149,q162`: a prefix matches the name itself or
    * `<prefix>_…`), or all of them when the list is absent or empty. A
    * prefix that matches no query is an error, so a mistyped list never
    * runs an empty suite. `Verify` and `Bench` read the list from
    * `SPARK_GRAFT_ONLY`.
    */
  def select(only: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val prefixes = only.toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)
    def matches(name: String, p: String) =
      name == p || name.startsWith(p + "_")
    val unmatched = prefixes.filterNot(p => all.keys.exists(matches(_, p)))
    require(unmatched.isEmpty,
      s"query prefixes match no registered query: ${unmatched.mkString(",")}")
    if (prefixes.isEmpty) all
    else all.filter { case (name, _) => prefixes.exists(matches(name, _)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * q88's entry is generated AFTER the queries run (r19): its encode
    * face replays the merge table the builder learned this session —
    * see [[graft.operators.TextQueries.q88OracleSql]].
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap ++
      TextQueries.q88OracleSql.map(o => "q88_bpe_tokenize" -> o.trim)
}
