package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.ops.{AsofJoinOp, SessionOps}

/** Thirty-fourth batch (round 9): event-timeline operators — the point-in-
  * time (as-of) join and gap-based sessionization.
  *
  *  - The asof rows join per-user purchase events to the latest (backward),
  *    next (forward), or tolerance-bounded click event. Both sides are
  *    pre-aggregated to unique (user, ts) so the match is tie-free — the
  *    documented production shape (and DuckDB's own ASOF-tie contract).
  *    Timestamps cross the compare as epoch-micros BIGINTs (pure integer
  *    semantics; the TIMESTAMP_NS→micros truncation is parity-checked on
  *    both engines).
  *  - The session rows replay gap sessionization (same-session iff
  *    consecutive-event distance < gap) with lag/cumsum window SQL; the
  *    stats row aggregates the per-event labels — on the Spark side that
  *    path runs through the native merging `session_window` aggregation,
  *    pinned equivalent in EventOpsSpec. */
object SparkEntryV34 extends EntryPart {

  private val GapUs: Long = 6L * 3600 * 1000000 // 6 hours
  private val TolUs: Long = 12L * 3600 * 1000000 // 12 hours
  // tight enough that some rows have exactly ONE direction in tolerance —
  // the case that distinguishes gate-before-pick from pick-then-gate
  private val NearTolUs: Long = 2L * 3600 * 1000000 // 2 hours

  /** Unique-(g, ts_us) per-user series for one event type. */
  private def side(s: SparkSession, dir: String, eventType: String): DataFrame =
    table(s, dir, "events").filter(col("event_type") === eventType)
      .groupBy(col("user_id").as("g"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .agg(exactSum(col("value")).as("y"))

  private def asofRow(s: SparkSession, dir: String, direction: String,
                      tol: Option[Long]): DataFrame = {
    val l = side(s, dir, "purchase")
    val r = side(s, dir, "click").withColumnRenamed("y", "cy")
    AsofJoinOp.asofJoin(l, r, Seq("g"), "ts_us", "ts_us", Seq("cy"),
        direction = direction, toleranceMicros = tol)
      .select(col("g"), col("ts_us"), round(col("y"), 6).as("y"),
        col("right_ts_us").as("click_us"), round(col("right_cy"), 6).as("click_y"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "ts_asof_join" -> ((s, dir) => asofRow(s, dir, "backward", None)),
    "ts_asof_join_fwd" -> ((s, dir) => asofRow(s, dir, "forward", None)),
    "ts_asof_join_tol" -> ((s, dir) => asofRow(s, dir, "backward", Some(TolUs))),
    "ts_asof_join_near" -> ((s, dir) => asofRow(s, dir, "nearest", None)),
    "ts_asof_join_near_tol" -> ((s, dir) =>
      asofRow(s, dir, "nearest", Some(NearTolUs))),
    "sessionize" -> ((s, dir) =>
      SessionOps.sessionize(table(s, dir, "events"), Seq("user_id"), "ts", GapUs)
        .select(col("event_id"), col("user_id"), col("session_idx"))),
    "session_stats" -> ((s, dir) =>
      SessionOps.sessionStats(table(s, dir, "events"), Seq("user_id"), "ts", GapUs,
          Some("value"))
        .select(col("user_id"), col("session_start_us"), col("session_last_us"),
          col("n_events"), col("duration_us"), round(col("y_sum"), 6).as("y_sum")))
  )

  private def sideCte(eventType: String, name: String): String =
    s"""$name AS (
       |  SELECT user_id AS g, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       |         $ExactSumY AS y
       |  FROM events WHERE event_type = '$eventType' GROUP BY 1, 2)""".stripMargin

  private def asofSql(op: String, tol: Option[Long]): String = {
    val gate = tol.map(t =>
      s"CASE WHEN abs(l.ts_us - r.ts_us) <= $t THEN r.ts_us END AS click_us," +
        s" CASE WHEN abs(l.ts_us - r.ts_us) <= $t THEN round(r.y, 6) END AS click_y")
      .getOrElse("r.ts_us AS click_us, round(r.y, 6) AS click_y")
    s"""WITH ${sideCte("purchase", "l")}, ${sideCte("click", "r")}
       |SELECT l.g, l.ts_us, round(l.y, 6) AS y, $gate
       |FROM l ASOF LEFT JOIN r ON l.g = r.g AND l.ts_us $op r.ts_us""".stripMargin
  }

  /** lag/cumsum session replay over epoch micros (explicit ROWS frame so
    * peer rows at tied timestamps accumulate identically to Spark's
    * running frame — the label is tie-order-invariant either way). */
  private val SessionCtes =
    s"""WITH e AS (
       |  SELECT event_id, user_id, value,
       |         epoch_us(CAST(ts AS TIMESTAMP)) AS t
       |  FROM events),
       |d AS (
       |  SELECT event_id, user_id, value, t,
       |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w >= $GapUs
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
       |lab AS (
       |  SELECT event_id, user_id, value, t,
       |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
       |      AS session_idx
       |  FROM d)""".stripMargin

  /** nearest = closer of the backward and forward ASOF matches, ties to
    * backward (the pandas contract) — replayed as two native ASOF joins
    * re-joined on the unique (g, ts_us) left key. */
  private val NearSql: String =
    s"""WITH ${sideCte("purchase", "l")}, ${sideCte("click", "r")},
       |bw AS (SELECT l.g, l.ts_us, l.y, r.ts_us AS bts, r.y AS byy
       |       FROM l ASOF LEFT JOIN r ON l.g = r.g AND l.ts_us >= r.ts_us),
       |fw AS (SELECT l.g, l.ts_us, r.ts_us AS fts, r.y AS fy
       |       FROM l ASOF LEFT JOIN r ON l.g = r.g AND l.ts_us <= r.ts_us)
       |SELECT bw.g, bw.ts_us, round(bw.y, 6) AS y,
       |  CASE WHEN fts IS NULL THEN bts
       |       WHEN bts IS NULL THEN fts
       |       WHEN bw.ts_us - bts <= fts - bw.ts_us THEN bts
       |       ELSE fts END AS click_us,
       |  round(CASE WHEN fts IS NULL THEN byy
       |             WHEN bts IS NULL THEN fy
       |             WHEN bw.ts_us - bts <= fts - bw.ts_us THEN byy
       |             ELSE fy END, 6) AS click_y
       |FROM bw JOIN fw ON bw.g = fw.g AND bw.ts_us = fw.ts_us""".stripMargin

  /** nearest + tolerance: each DIRECTIONAL candidate is nulled when it
    * exceeds the tolerance BEFORE the closer-of-the-two pick (the pandas
    * merge_asof contract) — a row whose nearer match is out of tolerance
    * still takes the other direction's in-tolerance match. */
  private val NearTolSql: String =
    s"""WITH ${sideCte("purchase", "l")}, ${sideCte("click", "r")},
       |bw0 AS (SELECT l.g, l.ts_us, l.y, r.ts_us AS bts, r.y AS byy
       |        FROM l ASOF LEFT JOIN r ON l.g = r.g AND l.ts_us >= r.ts_us),
       |fw0 AS (SELECT l.g, l.ts_us, r.ts_us AS fts, r.y AS fy
       |        FROM l ASOF LEFT JOIN r ON l.g = r.g AND l.ts_us <= r.ts_us),
       |bw AS (SELECT g, ts_us, y,
       |         CASE WHEN ts_us - bts <= $NearTolUs THEN bts END AS bts,
       |         CASE WHEN ts_us - bts <= $NearTolUs THEN byy END AS byy
       |       FROM bw0),
       |fw AS (SELECT g, ts_us,
       |         CASE WHEN fts - ts_us <= $NearTolUs THEN fts END AS fts,
       |         CASE WHEN fts - ts_us <= $NearTolUs THEN fy END AS fy
       |       FROM fw0)
       |SELECT bw.g, bw.ts_us, round(bw.y, 6) AS y,
       |  CASE WHEN fts IS NULL THEN bts
       |       WHEN bts IS NULL THEN fts
       |       WHEN bw.ts_us - bts <= fts - bw.ts_us THEN bts
       |       ELSE fts END AS click_us,
       |  round(CASE WHEN fts IS NULL THEN byy
       |             WHEN bts IS NULL THEN fy
       |             WHEN bw.ts_us - bts <= fts - bw.ts_us THEN byy
       |             ELSE fy END, 6) AS click_y
       |FROM bw JOIN fw ON bw.g = fw.g AND bw.ts_us = fw.ts_us""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "ts_asof_join_near_tol" -> NearTolSql,
    "ts_asof_join" -> asofSql(">=", None),
    "ts_asof_join_near" -> NearSql,
    "ts_asof_join_fwd" -> asofSql("<=", None),
    "ts_asof_join_tol" -> asofSql(">=", Some(TolUs)),
    "sessionize" ->
      s"""$SessionCtes
         |SELECT event_id, user_id, session_idx FROM lab""".stripMargin,
    "session_stats" ->
      s"""$SessionCtes
         |SELECT user_id, min(t) AS session_start_us, max(t) AS session_last_us,
         |       count(*) AS n_events, max(t) - min(t) AS duration_us,
         |       round($ExactSumY, 6) AS y_sum
         |FROM lab GROUP BY user_id, session_idx""".stripMargin
  )
}
