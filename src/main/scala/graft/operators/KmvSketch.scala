package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Q._

/** X75 — KMV (k-minimum-values / bottom-k) distinct sketch with SET
  * OPERATION estimates across corpora.
  *
  * The cross-corpus audit HLL cannot do: HLL unions losslessly but has
  * no intersection, while a KMV sketch supports union (bottom-k of the
  * merged hash sets), intersection and Jaccard (the fraction of the
  * union sketch present in both sides) — the standard tool for "how
  * much of dump B is already in dump A" planning before a 100 TB dedup
  * run (Beyer et al., "On synopses for distinct-value estimation under
  * multiset operations", SIGMOD'07; the DataSketches theta sketch is
  * the production form of the same idea).
  *
  * Everything is hash-exact against DuckDB because the sketch is
  * DETERMINISTIC given the hash: h = the first 15 hex chars of
  * md5(shingle) read as a 60-bit integer (Spark `conv(_,16,10)`,
  * DuckDB `CAST('0x'||… AS BIGINT)` — identical integers), bottom-k is
  * a rank over distinct (source, h), and the estimators are derived
  * from the exact longs through a FIXED sequence of IEEE-754 double
  * ops both engines execute identically.
  *
  * Scale shape: the sketch build is a two-stage bottom-k — a per-salt
  * partial rank (32 salts) followed by a final rank over the ≤ 32·k
  * survivors per source — i.e. a partial/final aggregation; no node
  * ever sorts a full source partition, and the post-sketch algebra
  * (union ranks, intersection counts) runs on k-row frames per source
  * pair. Estimator error is the standard ~1/√k.
  */
object KmvSketch {

  /** Sketch size. 64 keeps the pairwise stage trivially broadcastable
    * while the relative standard error (≈ 1/√64 = 12.5 %) is tight
    * enough for dump-overlap planning.
    */
  val K = 64

  /** Salt fan-out of the partial bottom-k stage. */
  val Salts = 32

  /** Hash domain: 60 bits (15 hex chars — exact in a signed 64-bit
    * integer in both engines).
    */
  val Domain: Double = 1152921504606846976.0d // 2^60, exact as a double

  /** 60-bit integer hash of a string column, identical in Spark and
    * DuckDB: first 15 hex chars of md5 parsed base-16.
    */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB mirror of [[h60]]. */
  def h60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Exact two-stage bottom-K of distinct `h` per `source`: partial
    * rank within (source, h % Salts), final rank over the ≤ Salts·K
    * survivors. Identical output to a single global rank (bottom-k of
    * a union of per-salt bottom-k IS the global bottom-k), but no
    * full-partition sort ever happens — the scale-safe shape.
    */
  def sketch(hashed: DataFrame): DataFrame = {
    val partial = Window
      .partitionBy(col("source"), pmod(col("h"), lit(Salts.toLong)))
      .orderBy(col("h"))
    val fin = Window.partitionBy(col("source")).orderBy(col("h"))
    hashed
      .withColumn("prk", row_number().over(partial))
      .filter(col("prk") <= K)
      .withColumn("rk", row_number().over(fin))
      .filter(col("rk") <= K)
      .select(col("source"), col("h"))
  }

  /** q126 — pairwise cross-source overlap estimation from KMV sketches
    * over the shared distinct-3-gram shingle frame:
    *
    *   - per source: bottom-[[K]] of the 60-bit shingle hashes;
    *   - per source pair (a < b): the union sketch (bottom-K of the
    *     merged hashes), its kth value t_u → distinct-union estimate
    *     (K−1)·2⁶⁰ / t_u (exact count when the union carries < K
    *     hashes), the intersection count k∩ = union-sketch members
    *     present in BOTH sides, Jaccard ≈ k∩ / |union sketch| (integer
    *     micro-units), and the intersection estimate Ĵ·Û.
    *
    * Shingle → hash → sketch never carries text past the first
    * projection; every later frame is ≤ K rows per (pair).
    */
  val q126 = GraftQuery(
    "q126_kmv_overlap",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
      val srcSh = MinHashDedup
        .shingles(t(s, d, "documents"))
        .join(docs, "doc_id")
        .select(col("source"), h60(col("shingle")).as("h"))
        .distinct()
      // r19 optimization: the ≤K-rows-per-source sketch frame is
      // consumed FIVE ways (the source census, both union-sketch
      // sides, both common-hash join sides) and its lineage is the
      // full shingle explode + two-level bottom-k — checkpoint the
      // tiny frame so that pipeline runs once.
      val sk = graft.Checkpoints.eager(sketch(srcSh))

      val srcs = sk.select(col("source")).distinct()
      val pairs = srcs.select(col("source").as("src_a"))
        .crossJoin(srcs.select(col("source").as("src_b")))
        .filter(col("src_a") < col("src_b"))

      val uni = pairs
        .join(sk.withColumnRenamed("source", "src_a"), "src_a")
        .select(col("src_a"), col("src_b"), col("h"))
        .unionByName(pairs
          .join(sk.withColumnRenamed("source", "src_b"), "src_b")
          .select(col("src_a"), col("src_b"), col("h")))
        .distinct()
      val wu = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
      val uk = uni.withColumn("rk", row_number().over(wu)).filter(col("rk") <= K)
      val thr = uk.groupBy(col("src_a"), col("src_b"))
        .agg(max(col("h")).as("t_u"), count(lit(1)).as("n_u"))

      val common = sk.select(col("source").as("src_a"), col("h"))
        .join(sk.select(col("source").as("src_b"), col("h")), "h")
        .filter(col("src_a") < col("src_b"))
      val kin = common
        .join(thr, Seq("src_a", "src_b"))
        .filter(col("h") <= col("t_u"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("k_inter"))

      // kin holds at most one row per source pair; the hint pins the
      // join, which AQE otherwise planned as broadcast in some identical
      // runs and as sort-merge in others
      thr
        .join(broadcast(kin), Seq("src_a", "src_b"), "left")
        .na.fill(0L, Seq("k_inter"))
        .withColumn("n_eff", least(col("n_u"), lit(K.toLong)))
        // micro-unit Jaccard: (2e6·k∩ + n) div (2n), exact in longs
        .withColumn("__j", expr("(2000000 * k_inter + n_eff) div (2 * n_eff)"))
        .withColumn("est_union",
          when(col("n_u") < K, col("n_u").cast("double"))
            .otherwise(lit((K - 1).toDouble) * lit(Domain) / col("t_u").cast("double")))
        .select(col("src_a"), col("src_b"), col("n_u"), col("k_inter"),
          (col("__j").cast("double") / 1000000.0d).as("jaccard_est"),
          col("est_union"),
          (col("est_union") * (col("k_inter").cast("double") / col("n_eff").cast("double")))
            .as("est_inter"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""
      WITH ${DedupQueries.shingleCtesSql},
      srcsh AS (
        SELECT DISTINCT d.source, ${h60Sql("s.shingle")} AS h
        FROM shingles s JOIN documents d USING (doc_id)),
      sk AS (
        SELECT source, h FROM (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rk
          FROM srcsh)
        WHERE rk <= $K),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM (SELECT DISTINCT source FROM sk) a
        JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
      uni AS (
        SELECT DISTINCT src_a, src_b, h FROM (
          SELECT p.src_a, p.src_b, s.h FROM pairs p
          JOIN sk s ON s.source = p.src_a
          UNION ALL
          SELECT p.src_a, p.src_b, s.h FROM pairs p
          JOIN sk s ON s.source = p.src_b)),
      uk AS (
        SELECT src_a, src_b, h FROM (
          SELECT src_a, src_b, h,
                 row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
          FROM uni)
        WHERE rk <= $K),
      thr AS (
        SELECT src_a, src_b, max(h) AS t_u, count(*) AS n_u
        FROM uk GROUP BY 1, 2),
      common AS (
        SELECT a.source AS src_a, b.source AS src_b, a.h
        FROM sk a JOIN sk b ON a.h = b.h AND a.source < b.source),
      kin AS (
        SELECT c.src_a, c.src_b, count(*) AS k_inter
        FROM common c
        JOIN thr t ON t.src_a = c.src_a AND t.src_b = c.src_b
                  AND c.h <= t.t_u
        GROUP BY 1, 2),
      scored AS (
        SELECT t.src_a, t.src_b, t.n_u,
               COALESCE(k.k_inter, 0) AS k_inter,
               least(t.n_u, $K) AS n_eff,
               (2000000 * COALESCE(k.k_inter, 0) + least(t.n_u, $K))
                 // (2 * least(t.n_u, $K)) AS j,
               CASE WHEN t.n_u < $K THEN CAST(t.n_u AS DOUBLE)
                    ELSE ${(K - 1).toDouble} * 1152921504606846976.0
                         / CAST(t.t_u AS DOUBLE) END AS est_union
        FROM thr t
        LEFT JOIN kin k ON k.src_a = t.src_a AND k.src_b = t.src_b)
      SELECT src_a, src_b, n_u, k_inter,
             CAST(j AS DOUBLE) / 1000000.0 AS jaccard_est,
             est_union,
             est_union * (CAST(k_inter AS DOUBLE) / CAST(n_eff AS DOUBLE))
               AS est_inter
      FROM scored
      ORDER BY src_a, src_b
    """))

  val all: Seq[GraftQuery] = Seq(q126)
}
