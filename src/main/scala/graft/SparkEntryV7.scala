package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.functions.TsFunctions
import graft.kernels.Metrics
import graft.ops.{TsForecastOp, TsPrep}

/** Seventh batch: driver rows for the remaining data-prep macros (zero
  * trimming, gappy/zero drops, const/mean null fills), the timestamp-
  * validation summary, the remaining metrics (mse, mqloss,
  * mean_interval_width), quarterly/yearly calendar gap filling, and the
  * INTEGER/BIGINT date-column type-preservation contract
  * (reference ts_type_preservation.test). */
object SparkEntryV7 extends EntryPart {

  /** Daily series with zeros planted at both edges (days 1-5 and 28+). */
  private def edgeZeroSeries(s: SparkSession, dir: String): DataFrame =
    dailyEvents(s, dir).select(col("g"), col("ds"),
      when(dayofmonth(col("ds")) <= 5 || dayofmonth(col("ds")) >= 28, 0.0)
        .otherwise(round(col("y"), 6)).as("y"))

  private val EdgeZeroCte = SeriesCte +
    """, z AS (SELECT g, ds,
      |  CASE WHEN day(ds) <= 5 OR day(ds) >= 28 THEN 0.0 ELSE round(y, 6) END AS y
      |  FROM s),
      |w AS (SELECT g, ds, y,
      |  min(CASE WHEN y <> 0 AND y IS NOT NULL THEN ds END) OVER (PARTITION BY g) AS fnz,
      |  max(CASE WHEN y <> 0 AND y IS NOT NULL THEN ds END) OVER (PARTITION BY g) AS lnz
      |  FROM z)""".stripMargin

  /** Quarterly revenue per order priority with Q2 removed → calendar gaps. */
  private def quarterlySeries(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(!month(col("o_orderdate")).isin(4, 5, 6))
      .groupBy(col("o_orderpriority").as("g"),
        date_trunc("quarter", col("o_orderdate")).cast(DateType).as("ds"))
      .agg(exactSum(col("o_totalprice")).as("y"))

  /** Yearly revenue per order priority with 1997 removed → a 2-year gap. */
  private def yearlySeries(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(year(col("o_orderdate")) =!= 1997)
      .groupBy(col("o_orderpriority").as("g"),
        date_trunc("year", col("o_orderdate")).cast(DateType).as("ds"))
      .agg(exactSum(col("o_totalprice")).as("y"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // ------------------------------------------------ zero trimming
    "ts_drop_leading_zeros_by" -> ((s, dir) =>
      TsPrep.dropLeadingZerosBy(edgeZeroSeries(s, dir), "g", "ds", "y")),
    "ts_drop_trailing_zeros_by" -> ((s, dir) =>
      TsPrep.dropTrailingZerosBy(edgeZeroSeries(s, dir), "g", "ds", "y")),
    "ts_drop_edge_zeros_by" -> ((s, dir) =>
      TsPrep.dropEdgeZerosBy(edgeZeroSeries(s, dir), "g", "ds", "y")),
    "ts_drop_gappy_by" -> ((s, dir) => {
      val withNulls = dailyEvents(s, dir).select(col("g"), col("ds"),
        when(dayofmonth(col("ds")) % 3 === 0 && col("g").isin("click", "view"), lit(null))
          .otherwise(round(col("y"), 6)).as("y"))
      TsPrep.dropGappyBy(withNulls, "g", "y", 0.3)
    }),
    "ts_drop_zeros_by" -> ((s, dir) => {
      val withZeroGroup = dailyEvents(s, dir).select(col("g"), col("ds"),
        when(col("g") === "click", 0.0).otherwise(round(col("y"), 6)).as("y"))
      TsPrep.dropZerosBy(withZeroGroup, "g", "y")
    }),
    // ------------------------------------------------ null filling
    "ts_fill_nulls_const_by" -> ((s, dir) => {
      val withNulls = dailyEvents(s, dir).select(col("g"), col("ds"),
        when(dayofmonth(col("ds")) % 5 === 0, lit(null)).otherwise(round(col("y"), 6)).as("y"))
      TsPrep.fillNullsConstBy(withNulls, "g", "ds", "y", 42.0)
        .select(col("g"), col("ds"), col("y"), col("filled_value"))
    }),
    "ts_fill_nulls_mean_by" -> ((s, dir) => {
      val withNulls = dailyEvents(s, dir).select(col("g"), col("ds"),
        when(dayofmonth(col("ds")) % 5 === 0, lit(null)).otherwise(round(col("y"), 6)).as("y"))
      TsPrep.fillNullsMeanBy(withNulls, "g", "ds", "y")
        .select(col("g"), col("ds"), col("y"), round(col("filled_value"), 6).as("filled_value"))
    }),
    // ------------------------------------------------ timestamp validation summary
    "ts_validate_timestamps_summary" -> ((s, dir) => {
      val expected = (1 to 30).map(d =>
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"))
      TsPrep.validateTimestampsSummaryBy(dailyEvents(s, dir), "g", "ds", expected)
        .select(col("all_valid"), col("n_groups"), col("n_valid_groups"),
          col("n_invalid_groups"))
    }),
    // ------------------------------------------------ remaining metrics
    "ts_mse_by" -> ((s, dir) => metricInput(s, dir)
      .select(col("g"), round(TsFunctions.tsMse(col("_s.a"), col("_s.p")), 4).as("mse"))),
    "ts_mqloss_by" -> ((s, dir) => {
      val mqUdf = udf((a: Seq[Double], p1: Seq[Double], p2: Seq[Double]) =>
        Metrics.mqLoss(a.toArray, Array(p1.toArray, p2.toArray), Array(0.1, 0.9)))
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      dailyEvents(s, dir)
        .withColumn("p1", lag(col("y"), 1).over(w))
        .withColumn("p2", lag(col("y"), 7).over(w))
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("ds"),
          coalesce(col("y"), lit(Double.NaN)).as("a"),
          coalesce(col("p1"), lit(Double.NaN)).as("x"),
          coalesce(col("p2"), lit(Double.NaN)).as("z")))).as("_s"))
        .select(col("g"),
          round(mqUdf(col("_s.a"), col("_s.x"), col("_s.z")), 6).as("mqloss"))
    }),
    "ts_mean_interval_width_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      dailyEvents(s, dir)
        .withColumn("lo", lag(col("y"), 1).over(w) - 500.0)
        .withColumn("hi", lag(col("y"), 1).over(w) + col("y") * 0.1)
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("ds"),
          coalesce(col("lo"), lit(Double.NaN)).as("l"),
          coalesce(col("hi"), lit(Double.NaN)).as("u")))).as("_s"))
        .select(col("g"),
          round(TsFunctions.tsMeanIntervalWidth(col("_s.l"), col("_s.u")), 6).as("miw"))
    }),
    // ------------------------------------------------ calendar gap filling
    "ts_fill_gaps_quarterly_by" -> ((s, dir) =>
      TsPrep.fillGapsBy(quarterlySeries(s, dir), "g", "ds", "y", "1q")
        .select(col("g"), col("ds"), round(col("y"), 4).as("y"))),
    "ts_fill_gaps_yearly_by" -> ((s, dir) =>
      TsPrep.fillGapsBy(yearlySeries(s, dir), "g", "ds", "y", "1y")
        .select(col("g"), col("ds"), round(col("y"), 4).as("y"))),
    // ------------------------------------------------ type preservation
    // (reference ts_type_preservation.test: INTEGER/BIGINT ds columns flow
    // through forecast/gap-fill with raw-step frequencies, no date coercion)
    "fc_naive_int_ds" -> ((s, dir) => {
      val intDs = dailyEvents(s, dir).select(col("g"),
        datediff(col("ds"), lit("2024-01-01").cast(DateType)).as("ds"),
        col("y"))
      TsForecastOp.forecastBy(intDs, "g", "ds", "y", "Naive", 7, "1")
        .select(col("g"), col("forecast_step"), col("ds"),
          round(col("yhat"), 6).as("yhat"),
          round(col("yhat_lower"), 4).as("yhat_lower"),
          round(col("yhat_upper"), 4).as("yhat_upper"),
          col("model_name"))
    }),
    "ts_fill_gaps_bigint_ds" -> ((s, dir) => {
      val bigDs = dailyEvents(s, dir)
        .filter(dayofmonth(col("ds")) % 5 =!= 0)
        .select(col("g"),
          datediff(col("ds"), lit("2024-01-01").cast(DateType)).cast(LongType).as("ds"),
          round(col("y"), 6).as("y"))
      TsPrep.fillGapsBy(bigDs, "g", "ds", "y", "1")
    }),
  )

  def oracleSql: Map[String, String] = rows(
    "ts_drop_leading_zeros_by" -> (EdgeZeroCte +
      """
        |SELECT g, ds, y FROM w WHERE ds >= fnz""".stripMargin),
    "ts_drop_trailing_zeros_by" -> (EdgeZeroCte +
      """
        |SELECT g, ds, y FROM w WHERE ds <= lnz""".stripMargin),
    "ts_drop_edge_zeros_by" -> (EdgeZeroCte +
      """
        |SELECT g, ds, y FROM w WHERE ds >= fnz AND ds <= lnz""".stripMargin),
    "ts_drop_gappy_by" -> (SeriesCte +
      """, z AS (SELECT g, ds,
        |  CASE WHEN day(ds) % 3 = 0 AND g IN ('click', 'view') THEN NULL
        |       ELSE round(y, 6) END AS y FROM s)
        |SELECT g, ds, y FROM z
        |WHERE g IN (SELECT g FROM z GROUP BY g
        |            HAVING CAST(sum(CASE WHEN y IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |                   / count(*) <= 0.3)""".stripMargin),
    "ts_drop_zeros_by" -> (SeriesCte +
      """, z AS (SELECT g, ds,
        |  CASE WHEN g = 'click' THEN 0.0 ELSE round(y, 6) END AS y FROM s)
        |SELECT g, ds, y FROM z
        |WHERE g IN (SELECT g FROM z GROUP BY g
        |            HAVING sum(CASE WHEN y <> 0 AND y IS NOT NULL THEN 1 ELSE 0 END) > 0)""".stripMargin),
    "ts_fill_nulls_const_by" -> (SeriesCte +
      """, s2 AS (
        |  SELECT g, ds, CASE WHEN day(ds) % 5 = 0 THEN NULL ELSE round(y, 6) END AS y FROM s)
        |SELECT g, ds, y, coalesce(y, 42.0) AS filled_value FROM s2""".stripMargin),
    "ts_fill_nulls_mean_by" -> (SeriesCte +
      """, s2 AS (
        |  SELECT g, ds, CASE WHEN day(ds) % 5 = 0 THEN NULL ELSE round(y, 6) END AS y FROM s)
        |SELECT g, ds, y,
        | round(coalesce(y, avg(y) OVER (PARTITION BY g)), 6) AS filled_value
        |FROM s2""".stripMargin),
    "ts_validate_timestamps_summary" -> (SeriesCte +
      """, per AS (
        |  SELECT g, count(DISTINCT CASE WHEN ds BETWEEN DATE '2024-01-01' AND DATE '2024-01-30'
        |                            THEN ds END) AS nf
        |  FROM s GROUP BY g)
        |SELECT bool_and(nf = 30) AS all_valid, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN nf = 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_groups,
        |  CAST(sum(CASE WHEN nf <> 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid_groups
        |FROM per""".stripMargin),
    "ts_mse_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s)
        |SELECT g, round(avg((y - pred) * (y - pred)), 4) AS mse FROM w GROUP BY g""".stripMargin),
    // mqloss = mean of the 0.1 / 0.9 pinball losses against the lag-1 and
    // lag-7 prediction paths (kernels/Metrics.scala:106)
    "ts_mqloss_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS p1,
        |               lag(y, 7) OVER (PARTITION BY g ORDER BY ds) AS p2 FROM s),
        |ql AS (SELECT g,
        |  avg(CASE WHEN p1 IS NOT NULL THEN
        |    CASE WHEN y - p1 >= 0 THEN 0.1 * (y - p1) ELSE (0.1 - 1.0) * (y - p1) END END) AS l1,
        |  avg(CASE WHEN p2 IS NOT NULL THEN
        |    CASE WHEN y - p2 >= 0 THEN 0.9 * (y - p2) ELSE (0.9 - 1.0) * (y - p2) END END) AS l2
        |  FROM w GROUP BY g)
        |SELECT g, round((l1 + l2) / 2, 6) AS mqloss FROM ql""".stripMargin),
    "ts_mean_interval_width_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS prev FROM s)
        |SELECT g, round(avg(CASE WHEN prev IS NOT NULL
        |  THEN (prev + y * 0.1) - (prev - 500.0) END), 6) AS miw
        |FROM w GROUP BY g""".stripMargin),
    "ts_fill_gaps_quarterly_by" ->
      """WITH p AS (
        |  SELECT o_orderpriority AS g,
        |         CAST(date_trunc('quarter', o_orderdate) AS DATE) AS ds,
        |         CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(28,6))) AS DOUBLE) AS y
        |  FROM orders WHERE month(o_orderdate) NOT IN (4, 5, 6) GROUP BY 1, 2),
        |w AS (SELECT g, ds, y, lag(ds) OVER (PARTITION BY g ORDER BY ds) AS prev FROM p),
        |gaps AS (
        |  SELECT g, CAST(unnest(generate_series(
        |    CAST(prev AS TIMESTAMP) + INTERVAL 3 MONTH,
        |    CAST(ds AS TIMESTAMP) - INTERVAL 3 MONTH,
        |    INTERVAL 3 MONTH)) AS DATE) AS ds, CAST(NULL AS DOUBLE) AS y
        |  FROM w
        |  WHERE prev IS NOT NULL
        |    AND (year(ds) * 4 + (month(ds) - 1) // 3)
        |        - (year(prev) * 4 + (month(prev) - 1) // 3) > 1)
        |SELECT g, ds, round(y, 4) AS y FROM p
        |UNION ALL SELECT g, ds, y FROM gaps""".stripMargin,
    "ts_fill_gaps_yearly_by" ->
      """WITH p AS (
        |  SELECT o_orderpriority AS g,
        |         CAST(date_trunc('year', o_orderdate) AS DATE) AS ds,
        |         CAST(sum(CAST(round(o_totalprice, 6) AS DECIMAL(28,6))) AS DOUBLE) AS y
        |  FROM orders WHERE year(o_orderdate) <> 1997 GROUP BY 1, 2),
        |w AS (SELECT g, ds, y, lag(ds) OVER (PARTITION BY g ORDER BY ds) AS prev FROM p),
        |gaps AS (
        |  SELECT g, CAST(unnest(generate_series(
        |    CAST(prev AS TIMESTAMP) + INTERVAL 1 YEAR,
        |    CAST(ds AS TIMESTAMP) - INTERVAL 1 YEAR,
        |    INTERVAL 1 YEAR)) AS DATE) AS ds, CAST(NULL AS DOUBLE) AS y
        |  FROM w
        |  WHERE prev IS NOT NULL AND year(ds) - year(prev) > 1)
        |SELECT g, ds, round(y, 4) AS y FROM p
        |UNION ALL SELECT g, ds, y FROM gaps""".stripMargin,
    "fc_naive_int_ds" -> (SeriesCte +
      """, i AS (SELECT g, CAST(ds - DATE '2024-01-01' AS INTEGER) AS dsi, y FROM s),
        |a AS (
        |  SELECT g, max(dsi) AS last_ds, arg_max(y, dsi) AS last_y, stddev_pop(y) AS sigma
        |  FROM i GROUP BY g)
        |SELECT g, CAST(step AS INT) AS forecast_step,
        | CAST(last_ds + step AS INTEGER) AS ds,
        | round(last_y, 6) AS yhat,
        | round(last_y - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(last_y + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'Naive' AS model_name
        |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "ts_fill_gaps_bigint_ds" -> (SeriesCte +
      """, i AS (SELECT g, CAST(ds - DATE '2024-01-01' AS BIGINT) AS ds, round(y, 6) AS y
        |        FROM s WHERE day(ds) % 5 <> 0),
        |w AS (SELECT g, ds, y, lag(ds) OVER (PARTITION BY g ORDER BY ds) AS prev FROM i),
        |gaps AS (
        |  SELECT g, prev + CAST(unnest(range(1, ds - prev)) AS BIGINT) AS ds,
        |         CAST(NULL AS DOUBLE) AS y
        |  FROM w WHERE prev IS NOT NULL AND (ds - prev) > 1)
        |SELECT g, ds, y FROM i
        |UNION ALL SELECT g, ds, y FROM gaps""".stripMargin),
  )
}
