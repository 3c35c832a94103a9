package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.{QuantileOps, SampleOps}

/** Twenty-second batch: exact score-quantile selection — "keep the top X%
  * by quality score", the thresholding step of every classifier-based
  * quality gate. The Spark plan is the two-phase sortable-bits histogram
  * (QuantileOps); the oracle is the corpus-wide window rank the plan
  * deliberately avoids. */
object SparkEntryV22 extends EntryPart {

  private val P = 2147483647L
  private val ScoreSeed = 5L
  private val Frac = 0.3
  private val TopK = 150L

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // continuous scores (a seeded-hash pseudo-signal in [-0.5, 0.5), all
    // distinct): the general-double path, boundary inside one bit-bucket
    "top_fraction_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents").withColumn("score",
        SampleOps.hashBucket(col("doc_id"), ScoreSeed).cast("double") / lit(P.toDouble)
          - lit(0.5))
      QuantileOps.filterTopFraction(docs, "doc_id", "score", Frac)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
    }),
    // heavily tied integer scores: the cutoff lands inside a tie mass and
    // resolves by the id tiebreak
    "top_k_chars" -> ((s, dir) =>
      QuantileOps.selectTopK(table(s, dir, "documents"), "doc_id", "n_chars", TopK)
        .select(col("doc_id"), col("n_chars"))),
    // lowest-k path (keep the WORST scores — e.g. a contamination triage)
    "bottom_k_chars" -> ((s, dir) =>
      QuantileOps.selectTopK(table(s, dir, "documents"), "doc_id", "n_chars", TopK,
          highest = false)
        .select(col("doc_id"), col("n_chars"))),
    // exact global rank without a single-partition window (bounded
    // per-bucket sorts + broadcast offsets)
    "exact_rank_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents").withColumn("score",
        SampleOps.hashBucket(col("doc_id"), ScoreSeed).cast("double") / lit(P.toDouble)
          - lit(0.5))
      QuantileOps.withExactRank(docs, "doc_id", "score")
        .select(col("doc_id"), col("rank"))
    }),
    // CCNet-style tercile split over a tied integer signal
    "quantile_buckets_chars" -> ((s, dir) =>
      QuantileOps.quantileBuckets(table(s, dir, "documents"), "doc_id", "n_chars", 3)
        .select(col("doc_id"), col("n_chars"), col("bucket"))),
  )

  def oracleSql: Map[String, String] = {
    val (ctes, bucket) = SampleOps.hashBucketSqlCtes("documents", "doc_id", ScoreSeed)
    rows(
      "top_fraction_score" ->
        s"""WITH $ctes,
           |sc AS (SELECT doc_id,
           |    CAST($bucket AS DOUBLE) / $P - 0.5 AS score FROM _h3),
           |rk AS (SELECT doc_id, score,
           |    row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS r FROM sc)
           |SELECT doc_id, round(score, 6) AS score FROM rk
           |WHERE r <= floor($Frac * (SELECT count(*) FROM documents))""".stripMargin,
      "top_k_chars" ->
        s"""SELECT doc_id, n_chars FROM (
           |  SELECT doc_id, n_chars,
           |    row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS r
           |  FROM documents)
           |WHERE r <= $TopK""".stripMargin,
      "bottom_k_chars" ->
        s"""SELECT doc_id, n_chars FROM (
           |  SELECT doc_id, n_chars,
           |    row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE) ASC, doc_id) AS r
           |  FROM documents)
           |WHERE r <= $TopK""".stripMargin,
      "exact_rank_score" ->
        s"""WITH $ctes,
           |sc AS (SELECT doc_id,
           |    CAST($bucket AS DOUBLE) / $P - 0.5 AS score FROM _h3)
           |SELECT doc_id,
           |  CAST(row_number() OVER (ORDER BY round(score, 6), doc_id) AS BIGINT)
           |  AS rank
           |FROM sc""".stripMargin,
      "quantile_buckets_chars" ->
        s"""WITH rk AS (SELECT doc_id, n_chars,
           |    row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE), doc_id) AS r,
           |    count(*) OVER () AS n FROM documents)
           |SELECT doc_id, n_chars,
           |  CAST(floor((r - 1) * 3 / n) AS BIGINT) AS bucket
           |FROM rk""".stripMargin,
    )
  }
}
