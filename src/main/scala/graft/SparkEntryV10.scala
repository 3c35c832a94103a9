package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.kernels.SeasonalityExt
import graft.ops.{Series, TsChangepointOp, TsDecompositionOp, TsExogOp, TsForecastOp}

/** Tenth batch: planted-construction oracles for the changepoint surface
  * (a 0→100 step is segmented identically by any correct detector), the
  * detrend/exog paths (exact linear inputs make every fit reproduce the
  * construction), and cross-operator consistency oracles for the
  * explain/inspect introspection surface. */
object SparkEntryV10 extends EntryPart {

  /** The DuckDB twin of [[SparkEntryFixtures.stepSeries]]. */
  private val StepCte = BaseCte +
    """,
      |step AS (SELECT g, ds, pos,
      |                CASE WHEN pos < 30 THEN 0.0 ELSE 100.0 END AS y
      |         FROM p WHERE pos < 60)""".stripMargin

  /** Exact line y = 5 + 2·pos over the daily-events date grid: every trend
    * fit (linear, quadratic, cubic, loess) reproduces it exactly. */
  private def linearSeries(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("ds"))
    dailyEvents(s, dir)
      .withColumn("_pos", row_number().over(w) - 1)
      .select(col("g"), col("ds"), (lit(5.0) + lit(2.0) * col("_pos")).as("y"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // a variance-free step admits exactly one PELT changepoint: the segment
    // start at position 30 (any extra split costs a penalty for zero gain)
    "ts_changepoints_pelt_by" -> ((s, dir) =>
      TsChangepointOp.peltBy(stepSeries(s, dir), "g", "ds", "y")),
    "ts_changepoints_bayesian_by" -> ((s, dir) =>
      TsChangepointOp.bayesianBy(stepSeries(s, dir), "g", "ds", "y")),
    // row-level BOCPD flags on the same step; probabilities are
    // implementation-specific, the flag positions are not
    "ts_changepoints_bocpd_by" -> ((s, dir) =>
      TsChangepointOp.detectChangepointsBy(stepSeries(s, dir), "g", "ds", "y")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"), col("is_changepoint"))),
    // exact line: trend ≡ y and detrended ≡ 0 for every auto candidate,
    // so the oracle is method-independent
    "ts_detrend_auto_by" -> ((s, dir) =>
      TsDecompositionOp.detrendBy(linearSeries(s, dir), "g", "ds", "y", "auto")
        .select(col("g"), col("ds"), round(col("y"), 4).as("y"),
          round(col("trend"), 4).as("trend"),
          round(col("detrended"), 4).as("detrended"),
          substring(col("method"), 1, 5).as("method_prefix"))),
    // exact-linear target y = 10 + 2·dow + 3·t: OLS recovers the plane, the
    // Naive residual model sees ~0 residuals, and ŷ equals the construction
    "ts_forecast_exog_by" -> ((s, dir) => {
      val base = dailyEvents(s, dir)
        .withColumn("x_dow", dayofweek(col("ds")).cast(DoubleType))
        .withColumn("x_t", datediff(col("ds"), lit("2024-01-01").cast(DateType)).cast(DoubleType))
      val hist = base.select(col("g"), col("ds"),
        (lit(10.0) + lit(2.0) * col("x_dow") + lit(3.0) * col("x_t")).as("y"),
        col("x_dow"), col("x_t"))
      val future = dailyEvents(s, dir).groupBy(col("g"))
        .agg(max(col("ds")).as("_mx"))
        .select(col("g"), explode(sequence(lit(1), lit(7))).as("_h"), col("_mx"))
        .select(col("g"), date_add(col("_mx"), col("_h")).as("ds"))
        .withColumn("x_dow", dayofweek(col("ds")).cast(DoubleType))
        .withColumn("x_t", datediff(col("ds"), lit("2024-01-01").cast(DateType)).cast(DoubleType))
      // OptimizedTheta: an exog-capable family (forecast.rs:742-747) — the
      // zero-residual construction forecasts 0 for every theta parameter, so
      // the plane continuation stays exact and the name is the family tag
      TsExogOp.forecastExogBy(hist, "g", "ds", "y", Seq("x_dow", "x_t"),
        future, "ds", Seq("x_dow", "x_t"), "OptimizedTheta", 7, "1d")
        .select(col("g"), col("forecast_step"), col("ds"),
          round(col("yhat"), 4).as("yhat"),
          round(col("yhat_lower"), 4).as("yhat_lower"),
          round(col("yhat_upper"), 4).as("yhat_upper"), col("model_name"))
    }),
    // cross-operator consistency: the explain decomposition must sum to the
    // forecast the standalone forecast path produces, fit-for-fit. ETS with a
    // fixed spec — the reference's Explainable set is ETS/MSTL/Theta only
    // (forecast.rs:1893-1897), Auto* models are rejected
    "ts_forecast_explain_by" -> ((s, dir) => {
      val params = Map("seasonal_period" -> "7", "model" -> "AAA")
      val fc = TsForecastOp.forecastBy(dailyEvents(s, dir), "g", "ds", "y",
        "ETS", 7, "1d", params)
        .select(col("g"), col("forecast_step"), col("yhat"),
          col("model_name").as("_fc_name"))
      TsForecastOp.forecastExplainBy(dailyEvents(s, dir), "g", "ds", "y",
        "ETS", 7, params)
        .join(fc, Seq("g", "forecast_step"))
        .select(col("g"), col("forecast_step"),
          round(col("level") + col("trend") + col("seasonal") - col("yhat"), 6)
            .as("recon_err"),
          (col("model_name") === col("_fc_name")).as("names_match"))
    }),
    // introspection contract on AutoETS: a parseable ETS name, smoothing
    // parameters inside their optimizer bounds, information criteria present
    "ts_forecast_inspect_by" -> ((s, dir) =>
      TsForecastOp.forecastInspectBy(dailyEvents(s, dir), "g", "ds", "y", "AutoETS",
        Map("seasonal_period" -> "7"))
        .select(col("g"),
          col("model_name").startsWith("AutoETS(").as("is_ets_name"),
          (col("alpha") >= 0.0 && col("alpha") <= 1.0).as("alpha_ok"),
          col("aic").isNotNull.as("has_aic"),
          col("bic").isNotNull.as("has_bic"),
          (size(col("coefficients")) > 0).as("has_coefficients"))),
    // pure sinusoid: each 2-period window decomposes with ~zero remainder,
    // so every windowed strength clears the 0.3 seasonality threshold
    "ts_seasonality_changes_by" -> ((s, dir) =>
      Series.mapKernel(sinusoid7(s, dir), Seq("g"), "ds", "y")(o =>
        o.clean(14).toSeq.flatMap(SeasonalityExt.detectChanges(_, 7)._2.toSeq.zipWithIndex))
        .select(col("g"), col("_r._2").as("window_index"), (col("_r._1") >= 0.3).as("seasonal"))),
  )

  def oracleSql: Map[String, String] = rows(
    "ts_changepoints_pelt_by" -> (StepCte +
      """
        |SELECT g, CAST(30 AS INTEGER) AS changepoint_index, ds
        |FROM step WHERE pos = 30""".stripMargin),
    "ts_changepoints_bayesian_by" -> (StepCte +
      """
        |SELECT g, CAST(30 AS INTEGER) AS changepoint_index, ds
        |FROM step WHERE pos = 30""".stripMargin),
    "ts_changepoints_bocpd_by" -> (StepCte +
      """
        |SELECT g, ds, round(y, 6) AS y, (pos = 30) AS is_changepoint
        |FROM step""".stripMargin),
    "ts_detrend_auto_by" -> (SeriesCte +
      """, p AS (SELECT g, ds, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
        |        FROM s)
        |SELECT g, ds, round(5.0 + 2.0 * pos, 4) AS y, round(5.0 + 2.0 * pos, 4) AS trend,
        | CAST(0.0 AS DOUBLE) AS detrended, 'auto:' AS method_prefix
        |FROM p""".stripMargin),
    "ts_forecast_exog_by" -> (SeriesCte +
      """, a AS (SELECT g, max(ds) AS last_ds FROM s GROUP BY g),
        |f AS (SELECT g, CAST(step AS INT) AS forecast_step,
        |             last_ds + CAST(step AS INT) AS ds
        |      FROM a, (SELECT unnest(range(1, 8)) AS step) st)
        |SELECT g, forecast_step, ds,
        | round(10.0 + 2.0 * (dayofweek(ds) + 1) + 3.0 * date_diff('day', DATE '2024-01-01', ds), 4) AS yhat,
        | round(10.0 + 2.0 * (dayofweek(ds) + 1) + 3.0 * date_diff('day', DATE '2024-01-01', ds), 4) AS yhat_lower,
        | round(10.0 + 2.0 * (dayofweek(ds) + 1) + 3.0 * date_diff('day', DATE '2024-01-01', ds), 4) AS yhat_upper,
        | 'ThetaX' AS model_name
        |FROM f""".stripMargin),
    "ts_forecast_explain_by" -> (SeriesCte +
      """
        |SELECT g, CAST(step AS INT) AS forecast_step,
        | CAST(0.0 AS DOUBLE) AS recon_err, TRUE AS names_match
        |FROM (SELECT DISTINCT g FROM s) gs, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "ts_forecast_inspect_by" -> (SeriesCte +
      """
        |SELECT g, TRUE AS is_ets_name, TRUE AS alpha_ok, TRUE AS has_aic,
        | TRUE AS has_bic, TRUE AS has_coefficients
        |FROM (SELECT DISTINCT g FROM s) gs""".stripMargin),
    "ts_seasonality_changes_by" ->
      """WITH d AS (SELECT DISTINCT o_orderpriority AS g FROM orders)
        |SELECT g, CAST(w AS INTEGER) AS window_index, TRUE AS seasonal
        |FROM d, (SELECT unnest(range(0, 9)) AS w) ws""".stripMargin,
  )
}
