package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables.table

/** Thirty-first batch (round 9): the frequent-items sketch path for
  * corpus-wide top-k tokens ([[graft.llm.TextOps.topTokensSketch]] /
  * [[graft.functions.SpaceSavingTopK]]).
  *
  * The driver row runs the sketch in its EXACT regime (capacity 4096 ≫
  * the fixture vocabulary), where the mergeable-summaries guarantee
  * collapses to equality with the exact groupBy answer and max_err = 0 —
  * so the oracle is the top_tokens replay plus the literal 0 error
  * column: the 0 is itself the gated claim that no purge fired. The
  * approximate regime (vocabulary ≫ capacity) is bound-checked in
  * SpaceSavingSpec, where hash-exactness is the wrong gate by
  * construction (sketch estimates are partition-layout dependent; the
  * error BOUND is the invariant). */
object SparkEntryV31 extends EntryPart {

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "top_tokens_sketch" -> ((s, dir) =>
      graft.llm.TextOps.topTokensSketch(table(s, dir, "documents"), "text",
        k = 50, capacity = 4096)),
    "top_tokens_sketch_by" -> ((s, dir) =>
      graft.llm.TextOps.topTokensSketchBy(table(s, dir, "documents"), "source",
        "text", k = 10, capacity = 4096))
  )

  def oracleSql: Map[String, String] = rows(
    "top_tokens_sketch" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[ \t\n\r\f]+'), t -> len(t) > 0)) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
        |SELECT token, cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank,
        |       CAST(0 AS BIGINT) AS max_err
        |FROM c ORDER BY cnt DESC, token LIMIT 50""".stripMargin,
    "top_tokens_sketch_by" ->
      """WITH toks AS (
        |  SELECT source AS "group", unnest(list_filter(
        |    string_split_regex(lower(text), '[ \t\n\r\f]+'), t -> len(t) > 0)) AS token
        |  FROM documents),
        |c AS (SELECT "group", token, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |r AS (SELECT "group", token, cnt,
        |        CAST(row_number() OVER (PARTITION BY "group"
        |          ORDER BY cnt DESC, token) AS INTEGER) AS rank
        |      FROM c)
        |SELECT "group", token, cnt, rank, CAST(0 AS BIGINT) AS max_err
        |FROM r WHERE rank <= 10""".stripMargin
  )
}
