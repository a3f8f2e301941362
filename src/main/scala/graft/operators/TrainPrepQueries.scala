package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Q._
import graft.functions.MockScorers.{normalize, normalizeSql}

/** Training-data preparation compositions (north-star X15/X18 end to
  * end): the point of the individual operators (langid, quality,
  * fingerprint dedup, token counts) is that they CHAIN into one
  * pruned-scan, few-shuffle pipeline — q62 is that chain as a single
  * oracle-checked query. q63 is the deterministic stratified sampler a
  * pipeline uses to rebalance languages.
  */
object TrainPrepQueries {

  /** Full prep pipeline: langid (confident only) → quality gate →
    * fingerprint exact-dedup (keep lowest doc_id; features ride along
    * via min_by) → per-language corpus stats. One scan, two shuffles
    * (dedup group-by, final group-by) — the shape a 100 TB prep job
    * needs: every filter runs before any shuffle, and text never
    * shuffles (only the 8-byte fingerprint + small features).
    */
  val q62 = GraftQuery(
    "q62_trainprep_pipeline",
    (s, d) => {
      // r19 optimization (guide §2.5, §1.2): (a) the whole
      // langid+quality+fingerprint projection is per-row CPU riding
      // the scan stage, and the single-row-group input pins that
      // stage to ONE task (measured 2.1 s of 2.4 s total in one task
      // at sf0.1) — Tables.parallelized spreads it across cores and
      // is the identity at production sizes, preserving the "text
      // never shuffles" shape exactly where it matters; (b) the
      // quality/langid gate must not be pushed below the projection:
      // PushDownPredicates substitutes aliases into pushed predicates
      // regardless of cost, so filtering directly on
      // `predicted`/`quality` re-inlined the whole normalize+langScores
      // regex tree ~5× into a scan-stage Filter (seen in the executed
      // plan) while the projection recomputed it all again above.
      // r20 (ADVICE r19, guide §4.4): the barrier is a
      // NONDETERMINISTIC-marked identity over the gate boolean — the
      // optimizer may not substitute or reorder it, so the filter
      // stays above the projection and every regex runs exactly once
      // per row, WITHOUT the r19 eager checkpoint that materialized
      // the full pre-filter frame in executor storage on every build
      // (never unpersisted — the leak ADVICE r19 flagged) and is a
      // needless full-corpus cache at 100 TB. The gate VALUE is
      // unchanged (identity), so the output is bit-identical.
      val keepGate = udf((b: java.lang.Boolean) => b).asNondeterministic()
      val base = TextFeatures.withLangScores(
        graft.sources.Tables.parallelized(s, d, "documents", "doc_id")
          .select(col("doc_id"), col("text"), col("lang"),
            normalize(col("text")).as("norm")), col("norm"))
      val feats = base
        .withColumn("predicted", TextFeatures.predicted)
        .withColumn("n_words", size(split(col("norm"), " ")))
        .withColumn("punct_ratio",
          round(regexp_count(col("text"), lit("[^a-zA-Z0-9 ]"))
            .cast("double") / length(col("text")), 4))
        .withColumn("quality",
          TextFeatures.quality(col("n_words"), col("punct_ratio")))
        .withColumn("fingerprint", graft.functions.expressions
          .WordFingerprint(split(col("norm"), " ")))
        .select(col("doc_id"), col("predicted"), col("lang"),
          col("quality"), col("n_words"), col("fingerprint"),
          keepGate(col("predicted") =!= "und" && col("quality") >= 0.3)
            .as("__keep"))
        .filter(col("__keep"))
        .drop("__keep")
      val deduped = feats
        .groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("survivor_id"),
          min_by(col("predicted"), col("doc_id")).as("predicted"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(col("quality"), col("doc_id")).as("quality"),
          min_by(col("n_words"), col("doc_id")).as("n_words"))
      deduped
        .groupBy(col("predicted"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words").cast("long")).as("total_words"),
          round(sum(col("quality").cast(DecimalType(18, 4))).cast("double")
            / count(lit(1)), 4).as("avg_quality"))
        .orderBy(col("predicted"), col("lang"))
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, text, lang, ${normalizeSql("text")} AS norm
        FROM documents),
      scored AS (
        SELECT doc_id, text, lang, norm,
               ${TextFeatures.langScoresSql("norm")}
        FROM base),
      feats AS (
        SELECT doc_id, lang,
               ${TextFeatures.predictedSql} AS predicted,
               CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_words,
               round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                     / length(text), 4) AS punct_ratio,
               ${TextFeatures.fingerprintSql("norm")} AS fingerprint
        FROM scored),
      gated AS (
        SELECT *,
               ${TextFeatures.qualitySql("n_words", "punct_ratio")} AS quality
        FROM feats
        WHERE predicted <> 'und'),
      deduped AS (
        SELECT fingerprint,
               MIN(doc_id) AS survivor_id,
               arg_min(predicted, doc_id) AS predicted,
               arg_min(lang, doc_id) AS lang,
               arg_min(quality, doc_id) AS quality,
               arg_min(n_words, doc_id) AS n_words
        FROM gated
        WHERE quality >= 0.3
        GROUP BY fingerprint)
      SELECT predicted, lang, COUNT(*) AS n_docs,
             CAST(SUM(CAST(n_words AS BIGINT)) AS BIGINT) AS total_words,
             round(CAST(SUM(CAST(quality AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*), 4) AS avg_quality
      FROM deduped
      GROUP BY predicted, lang
      ORDER BY predicted, lang
    """))

  /** Deterministic stratified sampling: per-language keep rates via an
    * LCG hash of doc_id (q30's mirrorable-hash technique, per-stratum
    * thresholds) — the rebalancing step of a corpus prep job. Exact,
    * retry-stable, and pushdown-friendly (a pure filter; no shuffle at
    * all until the stats agg).
    */
  val q63 = GraftQuery(
    "q63_stratified_sample",
    (s, d) => {
      val keep = pmod(col("doc_id") * 1103515245L + 12345L, lit(1000L)) <
        when(col("lang") === "en", 150)
          .when(col("lang") === "zh", 400)
          .otherwise(600)
      t(s, d, "documents")
        .filter(keep)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE (doc_id * 1103515245 + 12345) % 1000 <
            CASE lang WHEN 'en' THEN 150 WHEN 'zh' THEN 400 ELSE 600 END
      ORDER BY doc_id
    """))

  /** Deterministic WEIGHTED sampling without replacement
    * (Efraimidis–Spirakis 2006, public): each row gets key
    * ln(u)/w for a mirrorable LCG uniform u and weight w; the global
    * top-n by key is an exact weighted sample. ln(u)/w is monotone in
    * u^(1/w), so ordering (all that matters — the key is never output)
    * is the textbook A-ES rule. Scale: top-n compiles to
    * TakeOrderedAndProject — per-partition heaps + one n-row merge, no
    * global sort, no shuffle of the full table.
    */
  val q73 = GraftQuery(
    "q73_weighted_sample",
    (s, d) => {
      val u = (pmod(col("o_orderkey") * 1103515245L + 12345L,
        lit(1000000L)) + 1).cast("double") / 1000001.0
      t(s, d, "orders")
        .withColumn("skey", log(u) / col("o_totalprice"))
        .orderBy(col("skey").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH keyed AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               ln((((o_orderkey * 1103515245 + 12345) % 1000000) + 1)
                  / 1000001.0) / o_totalprice AS skey
        FROM orders),
      top AS (
        SELECT * FROM keyed ORDER BY skey DESC, o_orderkey LIMIT 100)
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM top
      ORDER BY o_orderkey
    """))

  /** Eval-set decontamination ([[Decontaminate.flagged]]): training docs
    * sharing ≥1 distinct 8-gram with the held-out split. The eval split
    * is doc_id % 7 = 0 — a deterministic stand-in for a benchmark set
    * that both engines compute identically. Exact-count oracle: the
    * collision join and countDistinct are set-exact, no approximation
    * anywhere.
    */
  val q77 = GraftQuery(
    "q77_decontamination",
    (s, d) => {
      val docs = t(s, d, "documents")
      Decontaminate.flagged(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        n = 8)
    },
    Some(s"""
      WITH src AS (
        SELECT doc_id, ${normalizeSql("text")} AS t FROM documents),
      docs AS (
        SELECT doc_id, string_split(t, ' ') AS words FROM src),
      expanded AS (
        SELECT doc_id, words,
               unnest(generate_series(1, len(words) - 7)) AS i
        FROM docs WHERE len(words) >= 8),
      grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(words[i:i+7], ' ') AS gram
        FROM expanded),
      tg AS (SELECT doc_id, gram FROM grams WHERE doc_id % 7 <> 0),
      eg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0)
      SELECT tg.doc_id, COUNT(*) AS n_hits
      FROM tg JOIN eg USING (gram)
      GROUP BY tg.doc_id
      ORDER BY doc_id
    """))

  /** Sequence packing ([[SequencePacking.packs]]): 4096-token stream
    * chunks per language shard. Window sum is per-shard (no global
    * ordering), integer arithmetic throughout — exact in both engines.
    */
  val q78 = GraftQuery(
    "q78_sequence_packing",
    (s, d) => SequencePacking.packs(
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
      budget = 4096),
    Some(s"""
      WITH toks AS (
        SELECT lang, doc_id,
               CAST(len(string_split(${normalizeSql("text")}, ' ')) AS BIGINT)
                 AS tokens
        FROM documents),
      offs AS (
        SELECT lang, doc_id, tokens,
               SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - tokens
                 AS start_offset
        FROM toks)
      SELECT lang, CAST(start_offset // 4096 AS BIGINT) AS pack_id,
             COUNT(*) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS pack_tokens
      FROM offs
      GROUP BY 1, 2
      ORDER BY lang, pack_id
    """))

  /** Domain mixture plan ([[DomainMix.planEqualShares]]): per-source
    * token mass and the sampling rate that fits each source into an
    * equal share of a fixed 10k-token budget (fixed ON PURPOSE: the
    * budget is a training decision, so rates shrink as the corpus
    * grows). Pure integer/decimal arithmetic — exact oracle.
    */
  val q80 = GraftQuery(
    "q80_domain_mix",
    (s, d) => DomainMix.planEqualShares(
      t(s, d, "documents").select(col("doc_id"), col("source"), col("text")),
      tokenBudget = 10000),
    Some(s"""
      WITH toks AS (
        SELECT source,
               CAST(len(string_split(${normalizeSql("text")}, ' ')) AS BIGINT)
                 AS tokens
        FROM documents),
      mix AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS tok_mass
        FROM toks GROUP BY 1)
      SELECT source, n_docs, tok_mass,
             round(least(1.0,
               CAST(10000 AS DOUBLE) / (SELECT COUNT(*) FROM mix)
                 / tok_mass), 6) AS rate
      FROM mix
      ORDER BY source
    """))

  /** Training-shard plan ([[Sharding.shardStats]]): deterministic
    * LCG shard assignment over 8 shards with per-shard doc/token/span
    * stats — the balance audit before [[Sharding.writeShards]] commits
    * the layout. Pure integer arithmetic, exact oracle.
    */
  val q84 = GraftQuery(
    "q84_shard_plan",
    (s, d) => Sharding.shardStats(
      t(s, d, "documents").select(col("doc_id"), col("text")), nShards = 8),
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               ((doc_id * 1103515245 + 12345) % 1000000007) % 8 AS shard,
               CAST(len(string_split(${normalizeSql("text")}, ' ')) AS BIGINT)
                 AS tokens
        FROM documents)
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS tok_mass,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM toks
      GROUP BY 1
      ORDER BY shard
    """))

  /** The END-TO-END curation funnel — every large-scale pipeline's
    * nightly job, composed from the already-oracled stages so the
    * COMPOSITION itself gets a hash-exact check: quality gate (q48's
    * formula) → exact dedup keep-lowest (q62's fingerprint) →
    * eval-set decontamination (q77's 8-gram collision) → domain-mix
    * downsampling to a token budget (q80's mixture, integer-threshold
    * keep) → shard-plan audit (q84's LCG layout). Output is the final
    * per-shard balance table a trainer signs off on.
    *
    * Shuffle inventory at 100 TB, stage by stage: the quality gate is
    * a pure filter riding the scan; dedup shuffles (fingerprint,
    * doc_id) pairs only, then survivor ids join back against the
    * corpus — on a doc_id-bucketed warehouse table ([[graft.sources.Warehouse]])
    * the corpus side of that join is exchange-free; decontamination
    * streams exploded survivor grams through a broadcast-hash join
    * against the fixed-size eval gram set (no hint — AQE picks it, the
    * q03/q04 lesson); the mixture plan is one per-source aggregation
    * producing a dozens-row frame whose rate join broadcasts
    * trivially; the keep decision and shard id are per-row integer
    * arithmetic. Document text crosses AT MOST ONE exchange — the
    * survivor re-join by doc_id when the id side outgrows the
    * broadcast threshold (zero below it, and zero on a doc_id-bucketed
    * warehouse corpus, the X19 layout); every other exchange moves
    * ids, fingerprints, or grams, and no broadcast ever carries text —
    * the flagged-id and rate-plan joins use size-GATED hints (the
    * SketchDedup/Limits discipline; an ungated hint is the q03/q04 bug
    * class) because AQE's late SMJ→BHJ conversion still executes the
    * probe-side text shuffle it replaces. PlanSpec pins both bounds
    * structurally. Survivors feed three consumers (grams, anti-join,
    * mixture+sample), so the funnel materializes them ONCE through
    * [[graft.Checkpoints.eager]] — the same eager-truncation (and
    * cluster-reliability opt-in) the dedup/CC operators use. Eager-
    * execution semantics: building this query runs the upstream stages
    * at call time.
    */
  val q87 = GraftQuery(
    "q87_curation_funnel",
    (s, d) => curationFunnel(s, d, graft.Checkpoints.eager),
    Some(q87OracleSql))

  /** The funnel's named intermediate frames, shared by q87 (shard
    * audit) and q96 (per-doc provenance) so the two cannot drift.
    */
  private[operators] case class FunnelStages(feats: DataFrame,
      survivorIds: DataFrame, survivors: DataFrame, flaggedIds: DataFrame,
      clean: DataFrame, sampled: DataFrame)

  /** q87's stage chain with the survivor materialization injectable:
    * the plan-audit test passes `identity` so the full lineage stays
    * visible to the exchange walk (a checkpoint truncates it).
    */
  private[operators] def curationFunnel(s: SparkSession, d: String,
      materialize: DataFrame => DataFrame): DataFrame = {
    val st = funnelStages(s, d, materialize)
    Sharding.shardStats(
      st.sampled.select(col("doc_id"), col("text")), nShards = 4)
  }

  private[operators] def funnelStages(s: SparkSession, d: String,
      materialize: DataFrame => DataFrame): FunnelStages = {
      val docs = t(s, d, "documents")
      val evalSet = docs.filter(col("doc_id") % 7 === 0)
      // r20 (guide §1.2 "don't compute things twice", §2.3 shuffle
      // metadata not payloads): ONE normalize+regexp feature pass over
      // the non-eval corpus, materialized as a NARROW frame (ids +
      // scalars, no text). Before, the feature tree hung un-materialized
      // off `feats`, so it executed once under the survivor-id
      // aggregation, AGAIN on the probe side of the survivor join (the
      // two consumers feed different exchanges — no ReusedExchange), and
      // for q96 a THIRD time in the disposition pass. Now every consumer
      // reads these 5 scalar columns from executor blocks.
      val feats = materialize(docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text"), col("source"),
          normalize(col("text")).as("norm"))
        .withColumn("n_words", size(split(col("norm"), " ")))
        .withColumn("punct_ratio",
          round(regexp_count(col("text"), lit("[^a-zA-Z0-9 ]"))
            .cast("double") / length(col("text")), 4))
        .withColumn("quality",
          TextFeatures.quality(col("n_words"), col("punct_ratio")))
        .withColumn("fingerprint", graft.functions.expressions
          .WordFingerprint(split(col("norm"), " ")))
        .select(col("doc_id"), col("source"), col("n_words"),
          col("quality"), col("fingerprint")))
      val survivorIds = feats.filter(col("quality") >= 0.3)
        .groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      // the AT-MOST-ONE text-bearing exchange lives here: when the
      // survivor id set outgrows AQE's broadcast threshold, the join
      // sort-merges and text shuffles ONCE into the materialization; at
      // small scale AQE broadcasts the ids and text never shuffles at
      // all. Everything downstream reads the cached frame. The survivor
      // frame re-reads raw text from the scan (column-pruned to 3
      // columns) instead of carrying the feature projection through the
      // join — the checkpoint then holds text ONCE (the old frame
      // materialized text AND norm, two full strings per row).
      val survivors = materialize(
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text"), col("source"))
          .join(survivorIds, "doc_id"))
      // materialized so the gate's count() doesn't re-run the gram join
      // the anti-join is about to consume
      val flaggedIds = materialize(Decontaminate
        .flagged(survivors.select(col("doc_id"), col("text")), evalSet, n = 8)
        .select(col("doc_id")))
      // gated hints (the SketchDedup/Limits discipline — an UNgated hint
      // is the q03/q04 bug class): the flagged set is tiny by nature
      // (docs colliding with a fixed benchmark) and the rate plan is one
      // row per source, so both sides broadcast AT PLANNING TIME — AQE's
      // late SMJ→BHJ conversion would still execute the probe-side text
      // shuffle it replaces (it re-reads the shuffle locally), which is
      // exactly the exchange this funnel promises not to have. Past the
      // gate the join degrades to a shuffle, never a driver OOM.
      val flaggedHinted =
        if (flaggedIds.count() <= graft.Limits.BroadcastRows)
          broadcast(flaggedIds) else flaggedIds
      // no materialization here: with the broadcast hint the anti-join
      // is a map-side pass over the cached survivors — cheaper to run
      // twice (mixture, sample) than to copy the text a second time
      val clean = survivors.join(flaggedHinted, Seq("doc_id"), "left_anti")
      val sampled = DomainMix.sampleThresholds(
        clean.select(col("doc_id"), col("source"), col("text")),
        tokenBudget = 5000, hintBroadcastPlan = true)
      FunnelStages(feats, survivorIds, survivors, flaggedIds, clean, sampled)
  }

  /** Shared WITH-chain for the q87/q96 oracles — ONE SQL rendering of
    * the funnel stages, two final selects.
    */
  private def funnelPrefixSql: String = s"""
      WITH base AS (
        SELECT doc_id, text, source, ${normalizeSql("text")} AS norm
        FROM documents WHERE doc_id % 7 <> 0),
      feats AS (
        SELECT doc_id, text, source, norm,
               CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_words,
               round(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                     / length(text), 4) AS punct_ratio,
               ${TextFeatures.fingerprintSql("norm")} AS fingerprint
        FROM base),
      scored AS (
        SELECT *,
               ${TextFeatures.qualitySql("n_words", "punct_ratio")} AS quality
        FROM feats),
      gated AS (
        SELECT * FROM scored WHERE quality >= 0.3),
      survivor_ids AS (
        SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY fingerprint),
      survivors AS (
        SELECT g.* FROM gated g JOIN survivor_ids USING (doc_id)),
      eval_words AS (
        SELECT doc_id, string_split(${normalizeSql("text")}, ' ') AS words
        FROM documents WHERE doc_id % 7 = 0),
      eg AS (
        SELECT DISTINCT array_to_string(words[i:i+7], ' ') AS gram
        FROM (SELECT words, unnest(generate_series(1, len(words) - 7)) AS i
              FROM eval_words WHERE len(words) >= 8)),
      surv_words AS (
        SELECT doc_id, string_split(norm, ' ') AS words FROM survivors),
      tg AS (
        SELECT DISTINCT doc_id, array_to_string(words[i:i+7], ' ') AS gram
        FROM (SELECT doc_id, words,
                     unnest(generate_series(1, len(words) - 7)) AS i
              FROM surv_words WHERE len(words) >= 8)),
      flagged AS (
        SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (gram)),
      clean AS (
        SELECT s.* FROM survivors s
        WHERE s.doc_id NOT IN (SELECT doc_id FROM flagged)),
      mix AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CAST(n_words AS BIGINT)) AS BIGINT) AS tok_mass
        FROM clean GROUP BY 1),
      rates AS (
        SELECT source,
               least(1000000, CAST(floor(1000000.0 * 5000
                 / (SELECT COUNT(*) FROM mix) / tok_mass) AS BIGINT))
                 AS keep_thresh
        FROM mix),
      sampled AS (
        SELECT c.doc_id, c.n_words FROM clean c JOIN rates USING (source)
        WHERE (c.doc_id * 1103515245 + 12345) % 1000000 < keep_thresh)"""

  private def q87OracleSql: String = funnelPrefixSql + s"""
      SELECT ((doc_id * 1103515245 + 12345) % 1000000007) % 4 AS shard,
             COUNT(*) AS n_docs,
             CAST(SUM(CAST(n_words AS BIGINT)) AS BIGINT) AS tok_mass,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM sampled
      GROUP BY 1
      ORDER BY shard
    """

  /** Per-doc curation PROVENANCE — the "why did my document disappear"
    * audit every production pipeline needs: for every non-eval doc,
    * which funnel stage decided its fate. Dispositions are evaluated
    * in stage order (gated → duplicate → contaminated → sampled_out →
    * kept), reusing q87's exact stage frames ([[funnelStages]]) and
    * oracle CTEs, so the provenance can never disagree with the
    * funnel. Scale shape: the disposition is four LEFT joins of the
    * per-doc feature frame against small id sets — ids and one double
    * shuffle; text is untouched (only stage construction moves it,
    * under q87's asserted bound).
    */
  val q96 = GraftQuery(
    "q96_curation_provenance",
    (s, d) => {
      val st = funnelStages(s, d, graft.Checkpoints.eager)
      // survivors' doc_ids ARE survivorIds (the join intersects them
      // with gated ids, a superset's subset) — read the materialized
      // frame instead of re-deriving the fingerprint aggregation
      val surv = st.survivors.select(col("doc_id"))
        .withColumn("m_surv", lit(true))
      val flag = st.flaggedIds.withColumn("m_flag", lit(true))
      val samp = st.sampled.select(col("doc_id"))
        .withColumn("m_samp", lit(true))
      st.feats.select(col("doc_id"), col("quality"))
        .join(surv, Seq("doc_id"), "left")
        .join(flag, Seq("doc_id"), "left")
        .join(samp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("quality") < 0.3, "gated")
            .when(col("m_surv").isNull, "duplicate")
            .when(col("m_flag").isNotNull, "contaminated")
            .when(col("m_samp").isNull, "sampled_out")
            .otherwise("kept").as("disposition"))
        .orderBy(col("doc_id"))
    },
    Some(funnelPrefixSql + s"""
      SELECT doc_id,
             CASE
               WHEN quality < 0.3 THEN 'gated'
               WHEN doc_id NOT IN (SELECT doc_id FROM survivor_ids)
                 THEN 'duplicate'
               WHEN doc_id IN (SELECT doc_id FROM flagged)
                 THEN 'contaminated'
               WHEN doc_id NOT IN (SELECT doc_id FROM sampled)
                 THEN 'sampled_out'
               ELSE 'kept'
             END AS disposition
      FROM scored
      ORDER BY doc_id
    """))

  /** EXACT-k per-stratum sampling: q63's rate sampler yields binomial
    * counts (fine for rebalancing, wrong for "give me exactly 40
    * eval docs per language"); this keeps exactly min(k, n) docs per
    * stratum, chosen by the mirrorable LCG priority — deterministic,
    * retry-stable, unbiased by crawl order (the LCG decorrelates
    * doc_id locality, the q84 argument). Runs through the native
    * [[graft.plans.TopKPerGroup]] physical operator: per-partition
    * k-row heaps cut the shuffle to ≤ k·strata rows per split — at
    * 100 TB the window-function formulation would sort every
    * stratum's full row set instead.
    */
  val q90 = GraftQuery(
    "q90_stratified_exact_k",
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("pri",
          pmod(col("doc_id") * 1103515245L + 12345L, lit(1000000007L)))
      graft.plans.TopK.perGroup(docs,
          groupCols = Seq(col("lang")),
          orderCols = Seq(col("pri"), col("doc_id")),
          k = 40)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id"))
    },
    Some("""
      SELECT doc_id, lang, n_chars
      FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY (doc_id * 1103515245 + 12345) % 1000000007,
                          doc_id) AS rn
        FROM documents)
      WHERE rn <= 40
      ORDER BY lang, doc_id
    """))

  /** DSIR importance resampling ([[ImportanceResampling]], X54): score
    * every doc by the log-likelihood ratio of its bigram bag under a
    * target-corpus model (here: the `lang = 'en'` slice, standing in
    * for a curated target) vs the raw-corpus model, then Gumbel-top-50
    * resample ∝ weight. `logw_r` is a decimal sum of rounded terms, so
    * the weights themselves hash-match, not just the selection.
    */
  val q101 = GraftQuery(
    "q101_importance_resample",
    (s, d) => ImportanceResampling.resample(
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
      isTarget = col("lang") === "en", k = 50),
    Some(s"""
      WITH docs AS (
        SELECT doc_id, lang,
               string_split(${normalizeSql("text")}, ' ') AS words
        FROM documents),
      inst AS (
        SELECT doc_id, lang, words[i] || ' ' || words[i + 1] AS bigram
        FROM (SELECT doc_id, lang, words,
                     unnest(generate_series(1, len(words) - 1)) AS i
              FROM docs WHERE len(words) >= 2)),
      by_doc AS (
        SELECT doc_id, lang, bigram, COUNT(*) AS k
        FROM inst GROUP BY 1, 2, 3),
      raw_model AS (
        SELECT bigram, SUM(k) AS n_raw FROM by_doc GROUP BY 1),
      tgt_model AS (
        SELECT bigram, SUM(k) AS n_tgt FROM by_doc
        WHERE lang = 'en' GROUP BY 1),
      totals AS (
        SELECT (SELECT SUM(k) FROM by_doc) AS t_raw,
               (SELECT SUM(k) FROM by_doc WHERE lang = 'en') AS t_tgt,
               (SELECT COUNT(*) FROM raw_model) AS v),
      scored AS (
        SELECT doc_id, lang,
               CAST(SUM(k) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(round(k * ln(
                 CAST((COALESCE(n_tgt, 0) + 1) * (t_raw + v) AS DOUBLE) /
                 CAST((n_raw + 1) * (t_tgt + v) AS DOUBLE)), 6)
                 AS DECIMAL(20,6))) AS DOUBLE) AS logw_r
        FROM by_doc
        JOIN raw_model USING (bigram)
        LEFT JOIN tgt_model USING (bigram)
        CROSS JOIN totals
        GROUP BY 1, 2),
      sampled AS (
        SELECT doc_id, lang, n_bigrams, logw_r
        FROM scored
        ORDER BY logw_r - ln(-ln(
            ((((doc_id * 1103515245 + 12345) % 1000000 + 1000000) % 1000000)
             + 1) / 1000001.0))
          DESC, doc_id
        LIMIT 50)
      SELECT doc_id, lang, n_bigrams, logw_r
      FROM sampled
      ORDER BY doc_id
    """))

  /** UniMax language-sampling allocation ([[UniMax.allocateFraction]],
    * X60, Chung et al. TACL 2023): waterfill 3/4 of the corpus's
    * tokens across languages at a 1-epoch repeat cap — the allocator
    * that replaced temperature sampling for multilingual pretraining
    * mixes, as a window-function closed form over the per-language
    * planning frame. On this corpus the four small languages cap at
    * their full capacity and the dominant one absorbs the remaining
    * budget — the paper's fairness effect, visible in frac_budget.
    */
  val q109 = GraftQuery(
    "q109_unimax_alloc",
    (s, d) => UniMax.allocateFraction(
      t(s, d, "documents").select(col("lang"), col("text")),
      num = 3, den = 4, epochs = 1),
    Some(s"""
      WITH tok AS (
        SELECT lang,
               CAST(len(string_split(${normalizeSql("text")}, ' '))
                 AS BIGINT) AS t
        FROM documents),
      by_lang AS (
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS n_tokens
        FROM tok GROUP BY 1),
      caps AS (
        SELECT lang, n_docs, n_tokens,
               n_tokens * 1 AS capacity,
               CAST((3 * SUM(n_tokens) OVER ()) // 4 AS BIGINT) AS budget,
               COUNT(*) OVER () AS n_langs
        FROM by_lang),
      ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY capacity, lang) AS r,
               CAST(COALESCE(SUM(capacity) OVER (
                 ORDER BY capacity, lang
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM caps),
      lv AS (
        SELECT *, CAST(budget - cum_before AS DOUBLE)
                    / CAST(n_langs - r + 1 AS DOUBLE) AS level_r
        FROM ranked),
      fl AS (
        SELECT *, CAST(capacity AS DOUBLE) < level_r AS capped FROM lv),
      fin AS (
        SELECT *,
               CAST(COALESCE(SUM(CASE WHEN capped THEN capacity END)
                 OVER (), 0) AS BIGINT) AS capped_sum,
               COUNT(CASE WHEN NOT capped THEN 1 END) OVER () AS n_uncapped
        FROM fl),
      alloc AS (
        SELECT *,
               CASE WHEN capped THEN CAST(capacity AS DOUBLE)
                    ELSE CAST(budget - capped_sum AS DOUBLE)
                         / CAST(n_uncapped AS DOUBLE) END AS alloc
        FROM fin)
      SELECT lang, n_docs, n_tokens, capacity, capped,
             round(alloc, 4) AS alloc_tokens,
             round(alloc / n_tokens, 6) AS epochs_used,
             round(alloc / budget, 6) AS frac_budget
      FROM alloc
      ORDER BY lang
    """))

  /** T5/UL2 span corruption ([[SpanCorruption]], X64): deterministic
    * denoising-example generation — LCG span starts (5 %, length
    * 2–4 ≈ 15 % masked), gaps-and-islands merge, numbered sentinels,
    * masked content as the target. The oracle replays the LCG, the
    * island merge, and both string rebuilds.
    */
  val q113 = GraftQuery(
    "q113_span_corruption",
    (s, d) => SpanCorruption.corrupt(t(s, d, "documents")),
    Some(s"""
      WITH docs AS (
        SELECT doc_id, string_split(${normalizeSql("text")}, ' ') AS ws
        FROM documents),
      toks AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n,
               unnest(range(0, len(ws))) AS i, ws
        FROM docs),
      wtoks AS (
        SELECT doc_id, n, i, ws[CAST(i + 1 AS INTEGER)] AS w,
               (((doc_id * 1000003 + i) % 1000000007) * 1103515245
                + 12345) % 1000000 AS u
        FROM toks),
      starts AS (
        SELECT doc_id, i AS st, LEAST(i + 1 + u % 3, n - 1) AS en
        FROM wtoks WHERE u < 50000),
      maskpos AS (
        SELECT DISTINCT doc_id, unnest(range(st, en + 1)) AS p
        FROM starts),
      brks AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
                                          ORDER BY p) > 1
                    THEN 1 ELSE 0 END AS brk
        FROM maskpos),
      isl0 AS (
        SELECT doc_id, p,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM brks),
      isl AS (
        SELECT doc_id, island, MIN(p) AS st, MAX(p) AS en,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY MIN(p)) - 1
                    AS INTEGER) AS k
        FROM isl0 GROUP BY doc_id, island),
      inp AS (
        SELECT t.doc_id,
               string_agg(CASE WHEN s.k IS NOT NULL
                               THEN '<extra_id_' || s.k || '>'
                               ELSE t.w END, ' ' ORDER BY t.i) AS input_text
        FROM wtoks t
        LEFT JOIN isl s ON s.doc_id = t.doc_id AND s.st = t.i
        LEFT JOIN maskpos m ON m.doc_id = t.doc_id AND m.p = t.i
        WHERE s.k IS NOT NULL OR m.p IS NULL
        GROUP BY t.doc_id),
      tgt AS (
        SELECT d.doc_id,
               string_agg(
                 array_to_string(list_prepend('<extra_id_' || s.k || '>',
                   d.ws[CAST(s.st + 1 AS INTEGER):CAST(s.en + 1 AS INTEGER)]),
                   ' '),
                 ' ' ORDER BY s.k) AS target_text,
               SUM(s.en - s.st + 1) AS n_masked,
               COUNT(*) AS n_spans
        FROM docs d JOIN isl s USING (doc_id)
        GROUP BY d.doc_id)
      SELECT d.doc_id,
             COALESCE(i.input_text, '') AS input_text,
             COALESCE(t.target_text, '') AS target_text,
             CAST(len(d.ws) AS BIGINT) AS n_tokens,
             CAST(COALESCE(t.n_masked, 0) AS BIGINT) AS n_masked,
             CAST(COALESCE(t.n_spans, 0) AS BIGINT) AS n_spans
      FROM docs d
      LEFT JOIN inp i USING (doc_id)
      LEFT JOIN tgt t USING (doc_id)
      ORDER BY d.doc_id
    """))

  /** Per-stratum deterministic bottom-k sample (X69): the k docs with
    * the smallest (q30's LCG hash, id) per stratum, via one window.
    * Unlike an RNG reservoir it is replayable, and it does not depend
    * on partitioning or on the order rows arrive in.
    */
  def bottomKBatch(docs: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    // window over the ALIASED frame — the caller's column names are
    // gone after the normalizing select
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
      .orderBy(pmod(col("doc_id") * 1103515245L + 12345L,
        lit(2147483647L)), col("doc_id"))
    docs.select(col(stratumCol).as("stratum"), col(idCol).as("doc_id"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("stratum"), col("doc_id"), col("rk"))
      .orderBy(col("stratum"), col("rk"))
  }

  /** Per-source bottom-4 sample of the corpus by LCG-hash rank. */
  val q120 = GraftQuery(
    "q120_bottomk_reservoir",
    (s, d) => bottomKBatch(t(s, d, "documents"), "source", "doc_id", k = 4),
    Some("""
      SELECT stratum, doc_id, CAST(rk AS INTEGER) AS rk
      FROM (SELECT source AS stratum, doc_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY source
                     ORDER BY (doc_id * 1103515245 + 12345) % 2147483647,
                              doc_id) AS rk
            FROM (SELECT DISTINCT source, doc_id FROM documents))
      WHERE rk <= 4
      ORDER BY stratum, rk
    """))

  val all: Seq[GraftQuery] =
    Seq(q62, q63, q73, q77, q78, q80, q84, q87, q90, q96, q101, q109,
      q113, q120)
}
