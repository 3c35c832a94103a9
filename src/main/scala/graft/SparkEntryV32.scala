package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Thirty-second batch (round 9): the mergeable quantile-sketch path for
  * corpus score distributions ([[graft.llm.QuantileOps.scoreQuantilesSketch]]
  * / [[graft.functions.KllQuantileSketch]]).
  *
  * The driver rows run the sketch in its EXACT regime (capacity 16384 ≫
  * the fixture corpus at both SFs), where the compactor hierarchy never
  * fires, `max_rank_err` = 0, and each returned value is the literal
  * order statistic at rank ⌈q·n⌉ over the 6-decimal-rounded score — so
  * the oracle is a plain row_number selection, and the gated 0 in
  * `max_rank_err` is itself the claim that no compaction happened. The
  * approximate regime (corpus ≫ capacity) is bound-checked in
  * KllSketchSpec, where hash-exactness is the wrong gate by construction
  * (sketch estimates are partition-layout dependent; the error BOUND is
  * the invariant). The score is a deterministic arithmetic blend of
  * `n_chars` and `doc_id` so both engines compute bit-identical doubles. */
object SparkEntryV32 extends EntryPart {

  private val Qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  private def scored(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").withColumn("score",
      col("n_chars") * lit(1.0) + pmod(col("doc_id"), lit(97)) * lit(0.001))

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "score_quantiles_sketch" -> ((s, dir) =>
      graft.llm.QuantileOps.scoreQuantilesSketch(scored(s, dir), "score",
        Qs, capacity = 16384)),
    "score_quantiles_sketch_by" -> ((s, dir) =>
      graft.llm.QuantileOps.scoreQuantilesSketchBy(scored(s, dir), "source",
        "score", Seq(0.5, 0.9), capacity = 16384)),
    // the disk round trip + shard merge of score_quantiles_sketch: four
    // per-shard summaries persisted, read back, merged (items re-enter
    // the compactor hierarchy at their weight's level), then queried —
    // in the exact regime the merged summary IS the single-pass sketch,
    // so this shares the base row's order-statistics oracle byte-for-byte
    "score_quantiles_persisted" -> ((s, dir) => {
      import graft.llm.QuantileOps
      val shards = scored(s, dir).withColumn("group", pmod(col("doc_id"), lit(4)))
      val perShard = QuantileOps.sketchSummaryBy(shards, "group", "score",
        capacity = 16384)
      val skDir = java.nio.file.Files.createTempDirectory("graft_kll_sk").toString
      QuantileOps.writeKllSketch(perShard, skDir)
      val merged = QuantileOps.mergeKllSummaries(
        QuantileOps.readKllSketch(s, skDir), Seq.empty, capacity = 16384)
      QuantileOps.quantilesFromSummary(merged, Qs)
    }),
    // the summary as a broadcast score→percentile gate (streaming shape):
    // in the exact regime the estimated CDF IS cume_dist on the rounded
    // score, so the oracle is a plain window replay
    "score_percentile_from_sketch" -> ((s, dir) => {
      import graft.llm.QuantileOps
      val sc = scored(s, dir)
      val summary = QuantileOps.sketchSummary(sc, "score", capacity = 16384)
      QuantileOps.percentileFromSummary(
          sc.select(col("doc_id"), col("score")), "score", summary)
        .select(col("doc_id"), col("score_pct"))
    })
  )

  private val QuantilesSql =
    """WITH s AS (
      |  SELECT round(n_chars * 1.0 + (doc_id % 97) * 0.001, 6) AS v
      |  FROM documents),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
      |             count(*) OVER () AS n FROM s),
      |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
      |SELECT q, v AS value, n, CAST(0 AS BIGINT) AS max_rank_err
      |FROM r, qs
      |WHERE rn = GREATEST(1, CAST(ceil(q * n) AS BIGINT))""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "score_quantiles_persisted" -> QuantilesSql,
    "score_percentile_from_sketch" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         round(n_chars * 1.0 + (doc_id % 97) * 0.001, 6) AS v
        |  FROM documents)
        |SELECT doc_id,
        |  round(CAST(cume_dist() OVER (ORDER BY v) AS DOUBLE), 6) AS score_pct
        |FROM s""".stripMargin,
    "score_quantiles_sketch" ->
      """WITH s AS (
        |  SELECT round(n_chars * 1.0 + (doc_id % 97) * 0.001, 6) AS v
        |  FROM documents),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |             count(*) OVER () AS n FROM s),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
        |SELECT q, v AS value, n, CAST(0 AS BIGINT) AS max_rank_err
        |FROM r, qs
        |WHERE rn = GREATEST(1, CAST(ceil(q * n) AS BIGINT))""".stripMargin,
    "score_quantiles_sketch_by" ->
      """WITH s AS (
        |  SELECT source AS "group",
        |         round(n_chars * 1.0 + (doc_id % 97) * 0.001, 6) AS v
        |  FROM documents),
        |r AS (SELECT "group", v,
        |             row_number() OVER (PARTITION BY "group" ORDER BY v) AS rn,
        |             count(*) OVER (PARTITION BY "group") AS n FROM s),
        |qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q)
        |SELECT "group", q, v AS value, n, CAST(0 AS BIGINT) AS max_rank_err
        |FROM r, qs
        |WHERE rn = GREATEST(1, CAST(ceil(q * n) AS BIGINT))""".stripMargin
  )
}
