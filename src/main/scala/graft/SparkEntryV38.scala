package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops.CohortOps

/** Thirty-eighth batch (round 9): event-analytics rollups — the ordered
  * funnel (view → click → purchase per user, 7-day conversion window
  * anchored at the first view) and day-granularity cohort retention.
  *
  * The oracle replays the funnel exactly as the op computes it: each
  * step is a min-over-filtered-join against the previous anchor (greedy
  * earliest-anchor semantics — optimal without a window, the standard
  * anchored contract with one), all in epoch-micros integers. Retention
  * replays distinct entity-days → per-entity min day → (cohort, offset)
  * counts. */
object SparkEntryV38 extends EntryPart {

  private val Steps = Seq("view", "click", "purchase")
  private val WindowUs = 7L * 86400L * 1000000L // 7 days
  private val MaxOffset = 30

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "funnel_users" -> ((s, dir) =>
      CohortOps.funnel(table(s, dir, "events"), Seq("user_id"), "ts",
          "event_type", Steps, Some(WindowUs))
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          col("steps_completed"))),
    "funnel_counts" -> ((s, dir) =>
      CohortOps.funnelCounts(table(s, dir, "events"), Seq("user_id"), "ts",
        "event_type", Steps, Some(WindowUs))),
    "retention_cohorts" -> ((s, dir) =>
      CohortOps.retention(table(s, dir, "events"), Seq("user_id"), "ts", MaxOffset))
  )

  private val FunnelCtes =
    s"""WITH e AS (
       |  SELECT user_id AS g, event_type AS s,
       |         epoch_us(CAST(ts AS TIMESTAMP)) AS t
       |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
       |s1 AS (SELECT g, min(t) AS t1 FROM e WHERE s = 'view' GROUP BY g),
       |s2 AS (SELECT e.g, min(t) AS t2 FROM e JOIN s1 ON e.g = s1.g
       |       WHERE s = 'click' AND t >= t1 AND t <= t1 + $WindowUs
       |       GROUP BY e.g),
       |s3 AS (SELECT e.g, min(t) AS t3
       |       FROM e JOIN s1 ON e.g = s1.g JOIN s2 ON e.g = s2.g
       |       WHERE s = 'purchase' AND t >= t2 AND t <= t1 + $WindowUs
       |       GROUP BY e.g),
       |f AS (SELECT s1.g, t1, t2, t3,
       |        CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT
       |          AS BIGINT) AS steps_completed
       |      FROM s1 LEFT JOIN s2 ON s1.g = s2.g LEFT JOIN s3 ON s1.g = s3.g)""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "funnel_users" ->
      s"""$FunnelCtes
         |SELECT g AS user_id, t1, t2, t3, steps_completed FROM f""".stripMargin,
    "funnel_counts" ->
      s"""$FunnelCtes
         |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
         |       count(t1) AS n_entities FROM f
         |UNION ALL
         |SELECT 2, 'click', count(t2) FROM f
         |UNION ALL
         |SELECT 3, 'purchase', count(t3) FROM f""".stripMargin,
    "retention_cohorts" ->
      s"""WITH d AS (
         |  SELECT DISTINCT user_id AS g,
         |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
         |  FROM events),
         |c AS (SELECT g, min(day) AS cohort FROM d GROUP BY g)
         |SELECT cohort AS cohort_day, day - cohort AS offset_days,
         |       count(*) AS n_active
         |FROM d JOIN c ON d.g = c.g
         |WHERE day - cohort <= $MaxOffset
         |GROUP BY 1, 2""".stripMargin
  )
}
