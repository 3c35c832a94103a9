package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.ReportOps

/** Twenty-third batch: corpus accounting — the C4-style token blocklist
  * filter and the per-stratum data-card report. */
object SparkEntryV23 extends EntryPart {

  private val Blocked = Seq("slow", "batch")

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "blocklist_flag" -> ((s, dir) => {
      import s.implicits._
      ReportOps.blocklistFilter(table(s, dir, "documents"), "doc_id", "text",
          Blocked.toDF("term"), mode = "flag")
        .select(col("doc_id"), col("has_blocked"))
    }),
    "blocklist_filter" -> ((s, dir) => {
      import s.implicits._
      ReportOps.blocklistFilter(table(s, dir, "documents"), "doc_id", "text",
          Blocked.toDF("term"), mode = "block")
        .select(col("doc_id"))
    }),
    "corpus_report" -> ((s, dir) =>
      ReportOps.corpusReport(table(s, dir, "documents"), "text", "source")),
  )

  private val blockedList = Blocked.map(t => s"'$t'").mkString(", ")

  private val HitIdsSql =
    s"""hit AS (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)),
       |      '[ \\t\\n\\r\\f]+'), x -> len(x) > 0)) AS tok FROM documents)
       |  WHERE tok IN ($blockedList))""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "blocklist_flag" ->
      s"""WITH $HitIdsSql
         |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS has_blocked
         |FROM documents d LEFT JOIN hit h USING (doc_id)""".stripMargin,
    "blocklist_filter" ->
      s"""WITH $HitIdsSql
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin,
    "corpus_report" ->
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(min(nt) AS BIGINT) AS min_doc_tokens,
        |  CAST(max(nt) AS BIGINT) AS max_doc_tokens,
        |  round(avg(CAST(nt AS DOUBLE)), 6) AS avg_doc_tokens
        |FROM (SELECT source,
        |    len(list_filter(string_split_regex(lower(trim(text)),
        |      '[ \t\n\r\f]+'), x -> len(x) > 0)) AS nt,
        |    len(text) AS nc
        |  FROM documents)
        |GROUP BY source""".stripMargin,
  )
}
