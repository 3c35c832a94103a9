package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.SampleOps

/** Thirty-sixth batch (round 9): weighted k-sampling without replacement
  * (Efraimidis-Spirakis A-ES over the deterministic id mixer).
  *
  * Fixture: documents weighted by `n_chars` — the "sample k docs
  * proportional to length" curation draw. The oracle replays the mixer
  * CTEs, the log-domain key `ln((h+1)/P) / w` rounded to 6 decimals, and
  * the (key DESC, id) cut — the house rank/selection discipline, so the
  * TopKByScore aggregate and the SQL row_number agree row-for-row. The
  * `_by` row takes an independent per-language quota in the same single
  * aggregation. */
object SparkEntryV36 extends EntryPart {

  private val SeedK = 37L
  private val SeedBy = 41L
  private val K = 100
  private val KBy = 20

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "sample_weighted_k" -> ((s, dir) =>
      SampleOps.weightedSampleK(
        table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", K, SeedK)),
    "sample_weighted_k_by" -> ((s, dir) =>
      SampleOps.weightedSampleK(
        table(s, dir, "documents").select(col("lang"), col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", KBy, SeedBy, Seq("lang")))
  )

  private def keyedCtes(seed: Long, withLang: Boolean): (String, String) = {
    val cols = if (withLang) "lang, doc_id, n_chars" else "doc_id, n_chars"
    val (hashCtes, h) = SampleOps.hashBucketSqlCtes(
      s"(SELECT $cols FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)",
      "doc_id", seed)
    // `+ 0.0` normalizes −0.0 → +0.0: DuckDB's round keeps the sign on a
    // tiny negative that rounds to zero, Spark's BigDecimal round does not
    val score = s"(round(ln(($h + 1) / ${SampleOps.P}.0) / CAST(n_chars AS DOUBLE), 6) + 0.0)"
    (hashCtes, score)
  }

  def oracleSql: Map[String, String] = rows(
    "sample_weighted_k" -> {
      val (ctes, score) = keyedCtes(SeedK, withLang = false)
      s"""WITH $ctes,
         |sc AS (SELECT doc_id, $score AS score FROM _h3),
         |r AS (SELECT doc_id, score,
         |        row_number() OVER (ORDER BY score DESC, doc_id) AS rk
         |      FROM sc)
         |SELECT doc_id, score FROM r WHERE rk <= $K""".stripMargin
    },
    "sample_weighted_k_by" -> {
      val (ctes, score) = keyedCtes(SeedBy, withLang = true)
      s"""WITH $ctes,
         |sc AS (SELECT lang, doc_id, $score AS score FROM _h3),
         |r AS (SELECT lang, doc_id, score,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY score DESC, doc_id) AS rk
         |      FROM sc)
         |SELECT lang, doc_id, score FROM r WHERE rk <= $KBy""".stripMargin
    }
  )
}
