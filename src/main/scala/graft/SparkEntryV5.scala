package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.functions.TsFunctions
import graft.llm.TextOps
import graft.ops.TsPrep

/** Fifth batch: the remaining metric suite with oracles, mark/fill-unknown,
  * token counting + quality scoring, and the SQL-registered function
  * surface. */
object SparkEntryV5 extends EntryPart {

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "ts_mape_by" -> ((s, dir) => metricInput(s, dir)
      .select(col("g"), round(TsFunctions.tsMape(col("_s.a"), col("_s.p")), 6).as("mape"))),
    "ts_smape_by" -> ((s, dir) => metricInput(s, dir)
      .select(col("g"), round(TsFunctions.tsSmape(col("_s.a"), col("_s.p")), 6).as("smape"))),
    "ts_bias_by" -> ((s, dir) => metricInput(s, dir)
      .select(col("g"), round(TsFunctions.tsBias(col("_s.a"), col("_s.p")), 6).as("bias"))),
    "ts_r2_by" -> ((s, dir) => metricInput(s, dir)
      .select(col("g"), round(TsFunctions.tsR2(col("_s.a"), col("_s.p")), 6).as("r2"))),
    "ts_mase_by" -> ((s, dir) => metricInput(s, dir)
      .select(col("g"),
        round(TsFunctions.tsMase(col("_s.a"), col("_s.p"), col("_s.a"), lit(1)), 6).as("mase"))),
    "ts_rmae_by" -> ((s, dir) => {
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
          round(TsFunctions.tsRmae(col("_s.a"), col("_s.x"), col("_s.z")), 6).as("rmae"))
    }),
    "ts_quantile_loss_by" -> ((s, dir) => metricInput(s, dir)
      .select(col("g"),
        round(TsFunctions.tsQuantileLoss(col("_s.a"), col("_s.p"), lit(0.9)), 6).as("ql"))),
    "ts_coverage_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      dailyEvents(s, dir)
        .withColumn("lo", lag(col("y"), 1).over(w) - 500.0)
        .withColumn("hi", lag(col("y"), 1).over(w) + 500.0)
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("ds"),
          coalesce(col("y"), lit(Double.NaN)).as("a"),
          coalesce(col("lo"), lit(Double.NaN)).as("l"),
          coalesce(col("hi"), lit(Double.NaN)).as("u")))).as("_s"))
        .select(col("g"),
          round(TsFunctions.tsCoverage(col("_s.a"), col("_s.l"), col("_s.u")), 6).as("coverage"))
    }),
    "ts_mark_unknown_by" -> ((s, dir) =>
      TsPrep.markUnknownBy(dailyEvents(s, dir), "g", "ds", "2024-01-20 00:00:00")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          col("is_unknown"), col("last_known_date"))),
    "ts_fill_unknown_by" -> ((s, dir) =>
      TsPrep.fillUnknownBy(dailyEvents(s, dir)
          .select(col("g"), col("ds"), round(col("y"), 6).as("y")),
        "g", "ds", "y", "2024-01-20 00:00:00", "last_value")),
    "text_token_count" -> ((s, dir) =>
      TextOps.tokenCount(table(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens_bpe"))),
    "text_quality_score" -> ((s, dir) =>
      TextOps.qualityScore(table(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality_score"))),
    "ts_validate_timestamps_by" -> ((s, dir) => {
      val expected = (1 to 30).map(d =>
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"))
      TsPrep.validateTimestampsBy(dailyEvents(s, dir), "g", "ds", expected)
        .select(col("g"), col("is_valid"), col("n_expected"), col("n_found"),
          col("n_missing"))
    }),
    // registered-SQL scalar surface end-to-end, on a planted period-8
    // sinusoid (64 ordered samples/group) so every output is known from the
    // construction: mae(x,x) = 0, acf period = 8, the 0.1-level conformal
    // quantile lands on the series max (10 + sin = 11), and the memory
    // estimate is the documented closed-form formula
    "sql_function_surface" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      sinusoid8(s, dir).createOrReplaceTempView("_sql_surface")
      s.sql("""SELECT g,
              |  ts_mae(arr, arr) AS self_mae,
              |  ts_detect_periods(arr, 'acf') AS acf_period,
              |  round(ts_conformal_quantile(arr, 0.1), 6) AS q90,
              |  round(ts_estimate_backtest_memory(5, 30, 2, 7), 6) AS est_mb
              |FROM (SELECT g, transform(sort_array(collect_list(struct(ds, y))),
              |                          x -> x.y) AS arr
              |      FROM _sql_surface GROUP BY g) t""".stripMargin)
    }),
  )

  def oracleSql: Map[String, String] = rows(
    // planted-sinusoid surface: expected values derived from construction +
    // the documented memory formula (kernels/..., TsCvOp.estimateBacktestMemory)
    "sql_function_surface" ->
      """SELECT DISTINCT o_orderpriority AS g,
        | CAST(0.0 AS DOUBLE) AS self_mae,
        | CAST(8.0 AS DOUBLE) AS acf_period,
        | CAST(11.0 AS DOUBLE) AS q90,
        | round((30 * 8.0 * 4.0 + 5 * (2 * 7 * 11 * 8.0)) / 1000000.0, 6) AS est_mb
        |FROM orders""".stripMargin,
    "ts_mape_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s)
        |SELECT g, round(100.0 * avg(CASE WHEN y != 0 AND pred IS NOT NULL
        |  THEN abs((y - pred) / y) END), 6) AS mape FROM w GROUP BY g""".stripMargin),
    "ts_smape_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s)
        |SELECT g, round(100.0 * avg(CASE WHEN pred IS NOT NULL AND abs(y) + abs(pred) != 0
        |  THEN 2.0 * abs(y - pred) / (abs(y) + abs(pred)) END), 6) AS smape
        |FROM w GROUP BY g""".stripMargin),
    "ts_bias_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s)
        |SELECT g, round(avg(pred - y), 6) AS bias FROM w GROUP BY g""".stripMargin),
    "ts_r2_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s),
        |m AS (SELECT g, avg(y) AS mean FROM w WHERE pred IS NOT NULL GROUP BY g)
        |SELECT w.g, round(1.0 - sum((w.y - w.pred) * (w.y - w.pred)) /
        |  sum((w.y - m.mean) * (w.y - m.mean)), 6) AS r2
        |FROM w JOIN m ON w.g = m.g WHERE w.pred IS NOT NULL GROUP BY w.g""".stripMargin),
    "ts_mase_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s),
        |scale AS (SELECT g, avg(abs(y - pred)) AS sc FROM w WHERE pred IS NOT NULL GROUP BY g),
        |mae AS (SELECT g, avg(CASE WHEN pred IS NOT NULL THEN abs(y - pred) END) AS m
        |        FROM w GROUP BY g)
        |SELECT mae.g, round(mae.m / scale.sc, 6) AS mase
        |FROM mae JOIN scale ON mae.g = scale.g""".stripMargin),
    "ts_rmae_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS p1,
        |              lag(y, 7) OVER (PARTITION BY g ORDER BY ds) AS p2 FROM s)
        |SELECT g,
        |  round(avg(CASE WHEN p1 IS NOT NULL THEN abs(y - p1) END)
        |        / avg(CASE WHEN p2 IS NOT NULL THEN abs(y - p2) END), 6) AS rmae
        |FROM w GROUP BY g""".stripMargin),
    "ts_quantile_loss_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s)
        |SELECT g, round(avg(CASE WHEN pred IS NOT NULL THEN
        |  CASE WHEN y - pred >= 0 THEN 0.9 * (y - pred)
        |       ELSE (0.9 - 1.0) * (y - pred) END END), 6) AS ql
        |FROM w GROUP BY g""".stripMargin),
    "ts_coverage_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS prev FROM s)
        |SELECT g, round(avg(CASE WHEN prev IS NOT NULL THEN
        |  CASE WHEN y >= prev - 500.0 AND y <= prev + 500.0 THEN 1.0 ELSE 0.0 END END), 6)
        |  AS coverage
        |FROM w GROUP BY g""".stripMargin),
    "ts_mark_unknown_by" -> (SeriesCte +
      """, src AS (SELECT g, ds, y, date_trunc('second', CAST(ds AS TIMESTAMP)) AS dt FROM s),
        |lk AS (SELECT g, max(dt) AS last_known FROM src
        |       WHERE dt <= TIMESTAMP '2024-01-20 00:00:00' GROUP BY g)
        |SELECT src.g, src.ds, round(src.y, 6) AS y,
        |  src.dt > TIMESTAMP '2024-01-20 00:00:00' AS is_unknown,
        |  lk.last_known AS last_known_date
        |FROM src LEFT JOIN lk ON src.g = lk.g""".stripMargin),
    "ts_validate_timestamps_by" -> (SeriesCte +
      """, src AS (SELECT DISTINCT g, date_trunc('second', CAST(ds AS TIMESTAMP)) AS dt FROM s),
        |expected AS (SELECT date_trunc('second',
        |  CAST(unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |       TIMESTAMP '2024-01-30 00:00:00', INTERVAL 1 DAY)) AS TIMESTAMP)) AS edt),
        |groups AS (SELECT DISTINCT g FROM src),
        |ae AS (SELECT g.g, e.edt FROM groups g CROSS JOIN expected e),
        |v AS (SELECT ae.g, ae.edt, s2.dt IS NOT NULL AS found
        |      FROM ae LEFT JOIN src s2 ON ae.g = s2.g AND ae.edt = s2.dt)
        |SELECT g, bool_and(found) AS is_valid, count(*) AS n_expected,
        |  CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
        |  CAST(sum(CASE WHEN NOT found THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM v GROUP BY g""".stripMargin),
    "ts_fill_unknown_by" -> (SeriesCte +
      """, src AS (SELECT g, date_trunc('second', CAST(ds AS TIMESTAMP)) AS ds,
        |                  round(y, 6) AS y FROM s)
        |SELECT g, ds,
        |  CASE WHEN ds <= TIMESTAMP '2024-01-20 00:00:00' THEN y
        |       ELSE last_value(CASE WHEN ds <= TIMESTAMP '2024-01-20 00:00:00' THEN y END
        |         IGNORE NULLS) OVER (PARTITION BY g ORDER BY ds
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  END AS y
        |FROM src""".stripMargin),
    "text_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(
        |    regexp_replace(text, '([[:punct:]])', ' \1 ', 'g'), '\s+'),
        |    x -> len(x) > 0)) AS n_tokens_bpe
        |FROM documents""".stripMargin,
    "text_quality_score" ->
      """SELECT doc_id, round(
        |  least(length(text) / 200.0, 1.0) * 0.4 +
        |  (CASE WHEN length(text) > 0
        |        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
        |        ELSE 0 END) * 0.4 +
        |  (CASE WHEN (CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
        |              THEN length(regexp_replace(text, '\s+', '', 'g')) * 1.0
        |                   / len(string_split_regex(trim(text), '\s+'))
        |              ELSE 0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.2,
        |  6) AS quality_score
        |FROM documents""".stripMargin,
  )
}
