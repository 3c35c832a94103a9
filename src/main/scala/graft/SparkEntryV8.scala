package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.kernels.Features
import graft.ops.{TsConformalOp, TsCvOp, TsFeaturesOp}

/** Eighth batch: the conformal macro layer (ts_conformal_by / _calibrate /
  * _apply_by / ts_interval_width_by), the index-only CV split, Bayesian
  * changepoints, features config plumbing (template / from_json / from_csv),
  * and the SQL-registered inspect/explain scalars. */
object SparkEntryV8 extends EntryPart {

  /** Backtest-shaped input: actual = y, forecast = lag-1 naive. */
  private def backtestLike(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("ds"))
    dailyEvents(s, dir).withColumn("fc", lag(col("y"), 1).over(w))
  }

  /** The conformal-score CTE: the ceil((n+1)(1−α))/n interpolated quantile
    * of |y − lag(y)| per group, α = 0.1 (kernels/Conformal.scala:24). */
  private val ScoreCte = SeriesCte +
    """, w AS (SELECT g, ds, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS fc FROM s),
      |o AS (SELECT g, abs(y - fc) AS a,
      |        row_number() OVER (PARTITION BY g ORDER BY abs(y - fc)) - 1 AS rn,
      |        count(*) OVER (PARTITION BY g) AS n
      |      FROM w WHERE fc IS NOT NULL),
      |lv AS (SELECT g, n, least(1.0, ceil((n + 1) * 0.9) / n) * (n - 1) AS idx
      |       FROM (SELECT DISTINCT g, n FROM o) dn),
      |score AS (SELECT o.g,
      |  max(CASE WHEN o.rn = CAST(floor(lv.idx) AS BIGINT) THEN o.a END)
      |      * (1 - (max(lv.idx) - floor(max(lv.idx)))) +
      |  max(CASE WHEN o.rn = least(CAST(floor(lv.idx) AS BIGINT) + 1, lv.n - 1) THEN o.a END)
      |      * (max(lv.idx) - floor(max(lv.idx))) AS q
      |  FROM o JOIN lv ON o.g = lv.g GROUP BY o.g)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // ------------------------------------------------ conformal macro layer
    "ts_conformal_by" -> ((s, dir) =>
      TsConformalOp.conformalBy(backtestLike(s, dir), "g", "y", "fc", "fc",
        alpha = 0.1, method = "symmetric")
        .select(col("g"), round(col("point"), 6).as("point"),
          round(col("lower"), 6).as("lower"), round(col("upper"), 6).as("upper"),
          round(col("coverage"), 6).as("coverage"),
          round(col("conformity_score"), 6).as("conformity_score"), col("method"))),
    "ts_conformal_calibrate" -> ((s, dir) =>
      TsConformalOp.conformalCalibrate(backtestLike(s, dir), "y", "fc", alpha = 0.1)
        .select(round(col("conformity_score"), 6).as("conformity_score"),
          round(col("coverage"), 6).as("coverage"), col("n_residuals"))),
    "ts_conformal_apply_by" -> ((s, dir) =>
      TsConformalOp.conformalApplyBy(backtestLike(s, dir), "g", "fc", 100.0)
        .select(col("g"), round(col("forecast"), 6).as("forecast"),
          round(col("lower"), 6).as("lower"), round(col("upper"), 6).as("upper"))),
    "ts_interval_width_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      val withBounds = dailyEvents(s, dir)
        .withColumn("lo", lag(col("y"), 1).over(w) - 500.0)
        .withColumn("hi", lag(col("y"), 1).over(w) + col("y") * 0.1)
      TsConformalOp.intervalWidthBy(withBounds, "g", "lo", "hi")
        .select(col("g"), round(col("mean_width"), 6).as("mean_width"), col("n_intervals"))
    }),
    // ------------------------------------------------ index-only CV split
    "ts_cv_split_index_by" -> ((s, dir) =>
      TsCvOp.cvSplitIndexBy(dailyEvents(s, dir), "g", "ds",
        Seq(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-22 00:00:00")), 5)),
    // (ts_changepoints_bayesian_by moved to SparkEntryV10: planted-step oracle)
    // ------------------------------------------------ features config plumbing
    "ts_features_config_template" -> ((s, dir) =>
      TsFeaturesOp.configTemplate(s)),
    "ts_features_from_json" -> ((s, dir) =>
      TsFeaturesOp.featuresFromJson(dailyEvents(s, dir), "g", "ds", "y",
        """{"mean": {}, "maximum": {}, "minimum": {}}""")
        .select(col("g"), round(col("mean"), 6).as("mean"),
          round(col("maximum"), 6).as("maximum"), round(col("minimum"), 6).as("minimum"))),
    "ts_features_from_csv" -> ((s, dir) =>
      TsFeaturesOp.featuresFromCsv(dailyEvents(s, dir), "g", "ds", "y",
        "feature\nsum\nrange\ncount_unique")
        .select(col("g"), round(col("sum"), 4).as("sum"),
          round(col("range"), 6).as("range"), col("count_unique"))),
    // ------------------------------------------------ inspect/explain SQL scalars
    "sql_inspect_scalar" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      dailyEvents(s, dir).createOrReplaceTempView("_inspect_src")
      s.sql("""SELECT g, insp.model_name AS model_name, round(insp.phi, 6) AS phi
              |FROM (SELECT g, ts_forecast_inspect(
              |        transform(sort_array(collect_list(struct(ds, y))), x -> x.y),
              |        'AutoTheta') AS insp
              |      FROM _inspect_src GROUP BY g) t""".stripMargin)
    }),
    "sql_explain_scalar" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      dailyEvents(s, dir).createOrReplaceTempView("_explain_src")
      s.sql("""SELECT g, ex.model_name AS model_name,
              |       size(ex.forecast_step) AS n_steps
              |FROM (SELECT g, ts_forecast_explain(
              |        transform(sort_array(collect_list(struct(ds, y))), x -> x.y),
              |        'Theta', 5) AS ex
              |      FROM _explain_src GROUP BY g) t""".stripMargin)
    }),
  )

  def oracleSql: Map[String, String] = rows(
    "ts_conformal_by" -> (ScoreCte +
      """
        |SELECT w.g, round(w.fc, 6) AS point,
        |  round(w.fc - score.q, 6) AS lower, round(w.fc + score.q, 6) AS upper,
        |  round(CAST(1.0 - 0.1 AS DOUBLE), 6) AS coverage, round(score.q, 6) AS conformity_score,
        |  'symmetric' AS method
        |FROM w JOIN score ON w.g = score.g
        |WHERE w.fc IS NOT NULL""".stripMargin),
    "ts_conformal_calibrate" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS fc FROM s),
        |o AS (SELECT abs(y - fc) AS a,
        |        row_number() OVER (ORDER BY abs(y - fc)) - 1 AS rn,
        |        count(*) OVER () AS n
        |      FROM w WHERE fc IS NOT NULL),
        |lv AS (SELECT n, least(1.0, ceil((n + 1) * 0.9) / n) * (n - 1) AS idx
        |       FROM (SELECT DISTINCT n FROM o) dn)
        |SELECT
        |  round(max(CASE WHEN o.rn = CAST(floor(lv.idx) AS BIGINT) THEN o.a END)
        |          * (1 - (max(lv.idx) - floor(max(lv.idx)))) +
        |        max(CASE WHEN o.rn = least(CAST(floor(lv.idx) AS BIGINT) + 1, lv.n - 1) THEN o.a END)
        |          * (max(lv.idx) - floor(max(lv.idx))), 6) AS conformity_score,
        |  round(CAST(1.0 - 0.1 AS DOUBLE), 6) AS coverage,
        |  CAST(max(o.n) AS BIGINT) AS n_residuals
        |FROM o, lv""".stripMargin),
    "ts_conformal_apply_by" -> (SeriesCte +
      """, w AS (SELECT g, lag(y) OVER (PARTITION BY g ORDER BY ds) AS fc FROM s)
        |SELECT g, round(fc, 6) AS forecast,
        |  round(fc - 100.0, 6) AS lower, round(fc + 100.0, 6) AS upper
        |FROM w WHERE fc IS NOT NULL""".stripMargin),
    "ts_interval_width_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS prev FROM s)
        |SELECT g,
        | round(avg((prev + y * 0.1) - (prev - 500.0)), 6) AS mean_width,
        | count(*) AS n_intervals
        |FROM w WHERE prev IS NOT NULL GROUP BY g""".stripMargin),
    "ts_cv_split_index_by" -> (SeriesCte +
      """, b AS (SELECT g, ds, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
        |         FROM s),
        |folds AS (SELECT * FROM (VALUES (1, DATE '2024-01-15'), (2, DATE '2024-01-22'))
        |          AS v(fold_id, cutoff)),
        |ep AS (SELECT b.g, f.fold_id, f.cutoff,
        |              max(CASE WHEN b.ds <= f.cutoff THEN b.pos END) AS end_pos
        |       FROM b, folds f GROUP BY b.g, f.fold_id, f.cutoff)
        |SELECT b.g, b.ds, CAST(ep.fold_id AS BIGINT) AS fold_id,
        |  CASE WHEN b.pos <= ep.end_pos THEN 'train' ELSE 'test' END AS split
        |FROM b JOIN ep ON b.g = ep.g
        |WHERE ep.end_pos IS NOT NULL
        |  AND (b.pos <= ep.end_pos OR (b.pos > ep.end_pos AND b.pos <= ep.end_pos + 5))""".stripMargin),
    "ts_features_config_template" ->
      ("SELECT unnest(" + Features.allNames.map(n => s"'$n'").mkString("[", ", ", "]") +
        ") AS feature, '{}' AS params_json"),
    "ts_features_from_json" -> (SeriesCte +
      """
        |SELECT g, round(avg(y), 6) AS mean, round(max(y), 6) AS maximum,
        | round(min(y), 6) AS minimum
        |FROM s GROUP BY g""".stripMargin),
    "ts_features_from_csv" -> (SeriesCte +
      """
        |SELECT g, round(sum(y), 4) AS sum, round(max(y) - min(y), 6) AS range,
        | CAST(count(DISTINCT y) AS DOUBLE) AS count_unique
        |FROM s GROUP BY g""".stripMargin),
    "sql_inspect_scalar" ->
      """SELECT DISTINCT event_type AS g, 'AutoTheta' AS model_name,
        | CAST(2.0 AS DOUBLE) AS phi FROM events""".stripMargin,
    "sql_explain_scalar" ->
      """SELECT DISTINCT event_type AS g, 'Theta' AS model_name,
        | CAST(5 AS INTEGER) AS n_steps FROM events""".stripMargin,
  )
}
