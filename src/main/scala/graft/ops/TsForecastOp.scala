package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Forecast
import graft.types.Frequency

/** Grouped forecasting operators (`ts_forecast_by` family).
  *
  * Reference lifecycle (ts_macros.cpp:575-602 → _ts_forecast_scalar →
  * Rust forecast): GROUP BY gather → per-group kernel → unnest. Spark shape:
  * [[Series.gather]] (map-side packer → group-key exchange → merge
  * aggregate → round-robin exchange with an explicit partition count) →
  * kernel UDF per group over primitive `Array[Long]/Array[Double]/
  * Array[Boolean]` inputs (no per-element boxing) → explode. One kernel
  * invocation per series; parallelism scales with the number of series
  * across executors. The output is not hash-partitioned on the group key.
  *
  * Error isolation contract (ts_forecast_native.cpp:666-672): per-group data
  * errors (insufficient data, computation failures) skip the group; invalid
  * model / invalid params abort the query — validated eagerly on the driver
  * where data-independent.
  */
object TsForecastOp {

  /** One output row per forecast step. */
  final case class FcStep(forecast_step: Int, t: Long, yhat: Double,
                          yhat_lower: Double, yhat_upper: Double, model_name: String)

  /** ts_forecast single-series output row. */
  final case class SingleOut(point_forecasts: Seq[Double], lower_bounds: Seq[Double],
                             upper_bounds: Seq[Double], model_name: String,
                             aic: Option[Double], bic: Option[Double])

  /** Run the kernel for one gathered series; None ⇒ skip group. */
  private def runKernel(ts: Array[Long], vs: Array[Double], nu: Array[Boolean],
                        opts: Forecast.Options, freq: Frequency): Option[Seq[FcStep]] = {
    try {
      val out = Forecast.forecast(vs, nu.map(!_), opts)
      val lastT = ts.last
      Some((0 until out.point.length).map { i =>
        FcStep(i + 1, freq.advance(lastT, i + 1L), out.point(i), out.lower(i), out.upper(i),
          out.modelName)
      })
    } catch {
      case _: Forecast.InsufficientData => None
      case _: Forecast.ComputationError => None
      // InvalidInput / InvalidModel propagate and abort the query
    }
  }

  /** ts_forecast_by (ts_macros.cpp:575-602): per-group forecast.
    * Output: (groupCol, forecast_step, dsCol, yhat, yhat_lower, yhat_upper,
    * model_name) with the caller's column names preserved
    * (ts_forecast_native.cpp:426-452). */
  def forecastBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                 method: String, horizon: Int, frequency: String,
                 params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, horizon, params)
    // eager data-independent validation (abort, not skip)
    if (!opts.autoDetectSeasonality && opts.seasonalPeriod > 1)
      Forecast.canonicalModel(method) // throws InvalidModel on bad name
    val dsType = df.schema(dsCol).dataType
    val freq = Frequency.parse(frequency).forIntegerDs(Series.isIntegerDs(dsType))

    val fc = udf((ts: Array[Long], vs: Array[Double], nu: Array[Boolean]) =>
      runKernel(ts, vs, nu, opts, freq))

    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(fc(col("_ts"), col("_vs"), col("_nu"))).as("_r"))
      .select(
        col(groupCol),
        col("_r.forecast_step").as("forecast_step"),
        Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.yhat").as("yhat"),
        col("_r.yhat_lower").as("yhat_lower"),
        col("_r.yhat_upper").as("yhat_upper"),
        col("_r.model_name").as("model_name"))
  }

  /** ts_forecast_inspect_by (ts_macros.cpp:605-686): per-group fit-state
    * snapshot (alpha/beta/gamma/phi, aic/bic, ARIMA orders, coefficients). */
  def forecastInspectBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                        method: String, params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, 1, params)
    val insUdf = udf((vs: Array[Double], nu: Array[Boolean]) => {
      try Some(graft.kernels.Introspect.inspect(vs, nu.map(!_), opts))
      catch { case _: Forecast.InsufficientData | _: Forecast.ComputationError => None }
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), insUdf(col("_vs"), col("_nu")).as("_o"))
      .filter(col("_o").isNotNull)
      .select(col(groupCol), col("_o.*"))
  }

  /** ts_forecast_explain_by (ts_macros.cpp:687-730): per-horizon
    * level/trend/seasonal/residual decomposition rows. */
  def forecastExplainBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                        method: String, horizon: Int,
                        params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, horizon, params)
    val exUdf = udf((vs: Array[Double], nu: Array[Boolean]) => {
      try {
        val e = graft.kernels.Introspect.explain(vs, nu.map(!_), horizon, opts)
        Some(e.forecast_step.indices.map(i =>
          (e.forecast_step(i), e.level(i), e.trend(i), e.seasonal(i), e.residual(i), e.model_name)))
      } catch { case _: Forecast.InsufficientData | _: Forecast.ComputationError => None }
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(exUdf(col("_vs"), col("_nu"))).as("_r"))
      .select(col(groupCol), col("_r._1").as("forecast_step"), col("_r._2").as("level"),
        col("_r._3").as("trend"), col("_r._4").as("seasonal"),
        col("_r._5").as("residual"), col("_r._6").as("model_name"))
  }

  /** ts_forecast (single series, ts_macros.cpp:539-566): one row of arrays
    * `{point_forecasts, lower_bounds, upper_bounds, model_name, aic, bic}`. */
  def forecastSingle(df: DataFrame, dsCol: String, yCol: String, method: String,
                     horizon: Int, params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, horizon, params)
    val gathered = Series.gatherBy(df, Nil, dsCol, yCol)
      .select(col("_s.v").as("_vs"), col("_s.nu").as("_nu"))

    val fc = udf((vs: Array[Double], nu: Array[Boolean]) => {
      try {
        val out = Forecast.forecast(vs, nu.map(!_), opts)
        Some(SingleOut(out.point.toSeq, out.lower.toSeq, out.upper.toSeq, out.modelName,
          out.aic, out.bic))
      } catch {
        case _: Forecast.InsufficientData | _: Forecast.ComputationError => None
      }
    })
    gathered.select(fc(col("_vs"), col("_nu")).as("_o"))
      .filter(col("_o").isNotNull)
      .select(col("_o.point_forecasts").as("point_forecasts"),
        col("_o.lower_bounds").as("lower_bounds"),
        col("_o.upper_bounds").as("upper_bounds"),
        col("_o.model_name").as("model_name"),
        col("_o.aic").as("aic"), col("_o.bic").as("bic"))
  }
}
