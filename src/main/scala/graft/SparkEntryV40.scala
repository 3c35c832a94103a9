package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops.IntervalJoinOp

/** Fortieth batch (round 9): the interval-overlap join — attribution
  * shape ("every purchase within two hours after a click, with the
  * click identified"). Points = purchase events; intervals = per-user
  * click windows `[ts, ts+2h]`; bucket width 1h. The oracle is the
  * plain inequality join — the bucketed equi-join plan must return
  * exactly the containment pairs (closed bounds, epoch-micros
  * integers). */
object SparkEntryV40 extends EntryPart {

  private val WindowUs = 2L * 3600 * 1000000
  private val BucketUs = 1L * 3600 * 1000000

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "interval_join_attrib" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("g"),
          unix_micros(col("ts").cast("timestamp")).as("t"),
          col("event_id"))
      val iv = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("g"),
          unix_micros(col("ts").cast("timestamp")).as("s"),
          (unix_micros(col("ts").cast("timestamp")) + lit(WindowUs)).as("e"),
          col("event_id").as("click_id"))
      IntervalJoinOp.intervalJoin(points, iv, Seq("g"), "t", "s", "e", BucketUs)
        .select(col("g"), col("event_id"), col("iv_click_id").as("click_id"))
    })
  )

  def oracleSql: Map[String, String] = rows(
    "interval_join_attrib" ->
      s"""WITH iv AS (
         |  SELECT user_id AS g, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         |         epoch_us(CAST(ts AS TIMESTAMP)) + $WindowUs AS e,
         |         event_id AS click_id
         |  FROM events WHERE event_type = 'click'),
         |p AS (
         |  SELECT user_id AS g, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id
         |  FROM events WHERE event_type = 'purchase')
         |SELECT p.g, p.event_id, iv.click_id
         |FROM p JOIN iv ON p.g = iv.g AND p.t >= iv.s AND p.t <= iv.e""".stripMargin
  )
}
