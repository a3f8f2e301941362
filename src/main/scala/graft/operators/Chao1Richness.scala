package graft.operators

import org.apache.spark.sql.functions._

import Q._
import graft.functions.MockScorers.{normalize, normalizeSql}

/** X220 — Chao1 vocabulary-richness estimate (Chao 1984) + Good–Turing
  * sample coverage (Good 1953), per source: from the observed distinct
  * tokens D and the singleton/doubleton census (f₁, f₂),
  *   Chao1 = D + f₁(f₁−1) / (2(f₂+1)),   coverage = 1 − f₁/N
  * — HOW MUCH vocabulary has this source not shown us yet, and what
  * fraction of its token mass is covered by seen types. The
  * extrapolation companion to X68's coverage curve and X195's
  * saturation audit (those measure what IS seen; Chao1 lower-bounds
  * the unseen) — the "is more crawling of this source worth it"
  * number a data-acquisition dashboard ranks by.
  *
  * Determinism: D, f₁, f₂, N are exact longs from the token-count
  * census; both estimates are single fixed double trees (f₁(f₁−1)
  * stays a long < 2^63 through any realistic vocabulary).
  *
  * Scale shape: one map-side-combined groupBy to the |sources ×
  * vocabulary| count frame, then a second groupBy collapses it to one
  * row per source — the count-of-counts trick: no per-token state
  * survives the first aggregation. Corpus touched once.
  */
object Chao1Richness {

  /** (source, w) → per-(source, token) counts: the first, map-side
    * combined aggregation of q253.
    */
  def tokenCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("source"),
        explode(split(normalize(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))

  /** The census + estimates over a (source, w, c) count frame: the
    * count-of-counts collapse to one row per source.
    */
  def census(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("d_observed"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        round(col("d_observed").cast("double") +
          (col("f1") * (col("f1") - 1L)).cast("double") /
            (lit(2.0d) * (col("f2").cast("double") + 1.0d)), 4))
      .withColumn("coverage",
        round(lit(1.0d) - col("f1").cast("double") /
          col("n_tokens").cast("double"), 6))
      .orderBy(col("source"))

  /** q253 — per-source Chao1 richness and Good–Turing coverage. */
  val q253 = GraftQuery(
    "q253_chao1_richness",
    (s, d) => census(tokenCounts(t(s, d, "documents"))),
    Some(s"""
      WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                     unnest(string_split(${normalizeSql("text")}, ' '))
                       AS w
              FROM documents)
        WHERE w <> ''),
      counts AS (
        SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      census AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS d_observed,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS f1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS f2
        FROM counts GROUP BY source)
      SELECT source, n_tokens, d_observed, f1, f2,
             round(CAST(d_observed AS DOUBLE)
               + CAST(f1 * (f1 - 1) AS DOUBLE)
                 / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 4) AS chao1,
             round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE),
               6) AS coverage
      FROM census
      ORDER BY source
    """))

  val all: Seq[GraftQuery] = Seq(q253)
}
