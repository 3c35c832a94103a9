package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.ReportOps

/** Twenty-eighth batch (round 9): corpus snapshot diffing — the
  * reproducibility/audit primitive of a versioned training-data pipeline
  * ("what exactly moved between corpus v12 and v13?").
  *
  * Fixture: old = the documents table; new = the same table with every
  * %10==7 doc removed, every %10==3 doc's text changed (appended marker),
  * and copies of doc_id < 50 added under the +1,000,000 disjoint-slice
  * offset. `corpus_diff` emits the delta only (the 100 TB contract — the
  * unchanged bulk never leaves the join); `corpus_diff_summary` is the
  * four-status reconciliation rollup. The oracle replays the construction
  * and classifies by direct text comparison — equivalent to the Spark
  * side's (nullness, xxhash64) compare up to 64-bit collisions. */
object SparkEntryV28 extends EntryPart {

  private val Marker = " CHANGED-MARKER"

  private def oldNew(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val newC = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(Marker)))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
    (docs, newC)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "corpus_diff" -> ((s, dir) => {
      val (o, n) = oldNew(s, dir)
      ReportOps.corpusDiff(o, n, "doc_id", "text")
    }),
    "corpus_diff_summary" -> ((s, dir) => {
      val (o, n) = oldNew(s, dir)
      ReportOps.corpusDiffSummary(o, n, "doc_id", "text")
    })
  )

  private val DiffCtes =
    s"""WITH oldc AS (SELECT doc_id, text FROM documents),
       |newc AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 3 THEN text || '$Marker' ELSE text END AS text
       |  FROM documents WHERE doc_id % 10 <> 7
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
       |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |    CASE WHEN o.doc_id IS NULL THEN 'added'
       |         WHEN n.doc_id IS NULL THEN 'removed'
       |         WHEN (o.text IS NULL AND n.text IS NULL) OR o.text = n.text
       |           THEN 'unchanged'
       |         ELSE 'changed' END AS status
       |  FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id)""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "corpus_diff" ->
      s"""$DiffCtes
         |SELECT doc_id, status FROM j WHERE status <> 'unchanged'""".stripMargin,
    "corpus_diff_summary" ->
      s"""$DiffCtes
         |SELECT status, count(*) AS n_docs FROM j GROUP BY 1""".stripMargin
  )
}
