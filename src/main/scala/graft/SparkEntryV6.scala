package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.llm.TextOps
import graft.ops.{Hierarchy, TsPrep, TsStatsOp}

/** Sixth batch: calendar-frequency gap filling (the month-arithmetic path,
  * oracle-checked), separator validation, Jaccard near-dup verification, and
  * the data-quality rollup. */
object SparkEntryV6 extends EntryPart {

  /** Monthly revenue per order priority with months 3/4 removed → calendar
    * gaps for the monthly fill path. */
  private def monthlySeries(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(!month(col("o_orderdate")).isin(3, 4))
      .groupBy(col("o_orderpriority").as("g"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("ds"))
      .agg(exactSum(col("o_totalprice")).as("y"))

  private val MonthlyCte =
    """WITH p AS (
      |  SELECT o_orderpriority AS g,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS ds,
      |         CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(28,6))) AS DOUBLE) AS y
      |  FROM orders WHERE month(o_orderdate) NOT IN (3, 4) GROUP BY 1, 2)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "ts_fill_gaps_monthly_by" -> ((s, dir) =>
      TsPrep.fillGapsBy(monthlySeries(s, dir), "g", "ds", "y", "1mo")
        .select(col("g"), col("ds"), round(col("y"), 4).as("y"))),
    "ts_validate_separator" -> ((s, dir) =>
      Hierarchy.validateSeparator(
        table(s, dir, "events").select(col("event_type").as("id1"),
          col("user_id").cast(StringType).as("id2")),
        Seq("id1", "id2"))
        // scalar projection (conflicting_values is an array — driver-sort-unsafe)
        .select(col("separator"), col("is_valid"), col("n_conflicts"),
          col("message"), col("n_invalid_rows"), col("n_total"))),
    "ts_data_quality_summary" -> ((s, dir) =>
      TsStatsOp.dataQualitySummary(dailyEvents(s, dir), "g", "ds", "y")
        .select(col("n_total"), col("n_good"), col("n_fair"), col("n_poor"),
          round(col("avg_score"), 6).as("avg_score"))),
    // lossless prefix-filtered Jaccard self-join — exact, so the DuckDB
    // brute-force inverted-index Jaccard is a true oracle. Threshold 0.8:
    // the qualifying pair set is identical to 0.5 on this corpus, but the
    // PPJoin prefix shrinks from n/2 to n/5 and the length/positional
    // filters actually bite (the realistic dedup operating point)
    "dedup_jaccard_exact" -> ((s, dir) =>
      TextOps.exactJaccardPairs(table(s, dir, "documents"), "doc_id", "text",
        shingleSize = 5, threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    // LSH candidates verified by exact shingle Jaccard, on the planted
    // exact-duplicate corpus (see SparkEntryV2): identical shingle sets are
    // guaranteed candidates in every band and the 1.0-threshold verify drops
    // every unequal candidate, so the aggregate provably equals the
    // set-equality relation's aggregate.
    "dedup_jaccard_verify" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      val pairs = TextOps.minHashLshPairs(aug, "doc_id", "text", bands = 32)
      TextOps.jaccardVerify(pairs, aug, "doc_id", "text", threshold = 1.0)
        .groupBy().agg(count(lit(1)).as("n_verified_pairs"),
          round(avg(col("jaccard")), 6).as("avg_jaccard"))
    }),
  )

  def oracleSql: Map[String, String] = rows(
    // inverted-index exact Jaccard: pairs sharing no shingle cannot clear the
    // threshold, so the shingle join enumerates every qualifying pair
    "dedup_jaccard_exact" ->
      """WITH docs AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |              FROM documents),
        |sh AS (SELECT doc_id,
        |              list_distinct([substr(norm, CAST(i AS INT), 5)
        |                             for i in range(1, greatest(length(norm) - 4, 0) + 1)]) AS s
        |       FROM docs),
        |shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        |ex AS (SELECT doc_id, unnest(s) AS sg FROM shn),
        |sz AS (SELECT doc_id, len(s) AS n FROM shn),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        |FROM inter JOIN sz sa ON inter.id_a = sa.doc_id
        |           JOIN sz sb ON inter.id_b = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8""".stripMargin,
    "ts_fill_gaps_monthly_by" -> (MonthlyCte +
      """, w AS (SELECT g, ds, y, lag(ds) OVER (PARTITION BY g ORDER BY ds) AS prev FROM p),
        |gaps AS (
        |  SELECT g, CAST(unnest(generate_series(
        |    CAST(prev AS TIMESTAMP) + INTERVAL 1 MONTH,
        |    CAST(ds AS TIMESTAMP) - INTERVAL 1 MONTH,
        |    INTERVAL 1 MONTH)) AS DATE) AS ds, CAST(NULL AS DOUBLE) AS y
        |  FROM w
        |  WHERE prev IS NOT NULL
        |    AND (year(ds) * 12 + month(ds)) - (year(prev) * 12 + month(prev)) > 1)
        |SELECT g, ds, round(y, 4) AS y FROM p
        |UNION ALL SELECT g, ds, y FROM gaps""".stripMargin),
    // rollup over the per-series quality scores (shared CTE in SparkEntryV2);
    // thresholds apply to the UNROUNDED overall score, as in the kernel
    "ts_data_quality_summary" -> (SparkEntryV2.DataQualityScoresCte +
      """, ov AS (SELECT (ss + ts + ms + bs) / 4.0 AS overall FROM scores)
        |SELECT count(*) AS n_total,
        |  CAST(sum(CASE WHEN overall >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN overall >= 0.5 AND overall < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_fair,
        |  CAST(sum(CASE WHEN overall < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_poor,
        |  round(avg(overall), 6) AS avg_score
        |FROM ov""".stripMargin),
    "dedup_jaccard_verify" ->
      (s"""SELECT count(*) AS n_verified_pairs,
          |  round(avg(jaccard), 6) AS avg_jaccard
          |FROM (""".stripMargin +
        SparkEntryV2.DedupShingleEqualitySql("jaccard") + ")"),
    "ts_validate_separator" ->
      """WITH dv AS (
        |  SELECT DISTINCT v FROM (
        |    SELECT event_type AS v FROM events
        |    UNION ALL SELECT CAST(user_id AS VARCHAR) FROM events)
        |  WHERE contains(v, '|')),
        |agg AS (SELECT CAST(count(*) AS INTEGER) AS n_conflicts FROM dv)
        |SELECT '|' AS separator,
        |  n_conflicts = 0 AS is_valid,
        |  n_conflicts,
        |  CASE WHEN n_conflicts = 0 THEN 'Separator is safe to use'
        |       ELSE 'Separator ''|'' found in ' || n_conflicts ||
        |            ' value(s). Try: ''-'', ''.'', ''::'', ''__'', ''#''' END AS message,
        |  (SELECT CAST(sum(CASE WHEN contains(event_type, '|')
        |                     OR contains(CAST(user_id AS VARCHAR), '|')
        |                THEN 1 ELSE 0 END) AS BIGINT) FROM events) AS n_invalid_rows,
        |  (SELECT count(*) FROM events) AS n_total
        |FROM agg""".stripMargin,
  )
}
